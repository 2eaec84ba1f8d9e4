"""Bounded CI variant of the full-daemon kill -9 crash soak (r7 verdict
item 6, tool: tools/crash_soak.py).

The per-writer crash-safety evidence is unit-level; this composes the
whole collector pipeline — UDP bridge → capture files → streaming
decode → batch_id-partitioned parquet → rollup maintenance →
compaction — with kill -9 injected into every stage, then verifies the
final table is LOSSLESS and DUPLICATE-FREE against a golden batch
decode of the committed capture files, and the compacted rollup equals
the direct aggregate. ~90s; the heavier orchestration (more cycles,
more datagrams) runs via `python tools/crash_soak.py`.
"""

from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))


def test_crash_soak_small(spark, tmp_path):
    from crash_soak import soak

    # seed pins the kill schedule so a green run is reproducible; the
    # tool's default (unseeded) runs explore different schedules
    summary = soak(str(tmp_path), cycles=2, datagrams=300,
                   rate_per_s=400.0, seed=8)
    # lossless + duplicate-free is asserted inside soak(); here pin the
    # soak itself was not vacuous: traffic flowed, and crashes were
    # injected. The >=3 bound is DETERMINISTIC, not timing-dependent:
    # each stage's first kill fires at 3s — inside JVM startup on any
    # host — so fast machines cannot turn the soak vacuous (and slow
    # ones cannot flake it red; r8 review).
    # non-vacuity bound, NOT a delivery-rate claim: how much of the
    # traffic commits depends on where the bridge kills land and on
    # host load (under a full-suite run the kill caught a fuller
    # in-flight tmp and exactly 100/300 committed — the old >100 bound
    # flaked). The invariant under test is the EQUALITY, not the count.
    assert summary["committed"] >= 50
    assert summary["table_rows"] == summary["committed"]
    assert summary["drains_killed"] >= 1
    assert summary["rollups_killed"] >= 1
    assert summary["compacts_killed"] >= 1


def test_failed_child_reports_its_stderr(tmp_path):
    """A child that fails leaves its cause behind: the error carries the
    last lines of the child's stderr, which stays in the work directory.
    ``--bridge`` without its arguments fails at once, before any Spark."""
    from crash_soak import _run_to_completion

    with pytest.raises(RuntimeError, match="IndexError") as err:
        _run_to_completion(["--bridge"], str(tmp_path))
    assert "exited 1" in str(err.value)
    logs = [f for f in os.listdir(tmp_path)
            if f.startswith("bridge_") and f.endswith(".stderr")]
    assert len(logs) == 1
    assert "IndexError" in (tmp_path / logs[0]).read_text()
