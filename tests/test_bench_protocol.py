"""bench.py protocol unit tests (no JVM): the isolated spot pass is
diagnostic — a hung or failed spot subprocess must degrade to a missing
row, never sink the bench run (r6 advice)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_spot_isolated_timeout_returns_none(monkeypatch, capsys):
    def fake_run(*args, **kwargs):
        raise subprocess.TimeoutExpired(cmd=args[0], timeout=kwargs["timeout"])

    monkeypatch.setattr(subprocess, "run", fake_run)
    assert bench._spot_isolated("q1_pricing_summary", "/x", 42.0) is None
    assert "timed out" in capsys.readouterr().err


def test_spot_isolated_failure_returns_none(monkeypatch, capsys):
    class P:
        returncode = 1
        stdout = ""
        stderr = "boom"

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: P())
    assert bench._spot_isolated("q1_pricing_summary", "/x") is None
    assert "failed" in capsys.readouterr().err


def test_spot_isolated_parses_result_line(monkeypatch):
    class P:
        returncode = 0
        stdout = "noise\nRESULT 1.234\n"
        stderr = ""

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: P())
    assert bench._spot_isolated("q1_pricing_summary", "/x") == 1.234


def test_spot_isolated_timeout_floor(monkeypatch):
    """A nearly-exhausted budget still grants the 30s floor — killing a
    JVM that is about to print its result wastes the whole run."""
    seen = {}

    def fake_run(*args, **kwargs):
        seen["timeout"] = kwargs["timeout"]
        raise subprocess.TimeoutExpired(cmd=args[0], timeout=kwargs["timeout"])

    monkeypatch.setattr(subprocess, "run", fake_run)
    bench._spot_isolated("q", "/x", timeout_sec=3.0)
    assert seen["timeout"] == 30.0


def test_draw_spot_clean_draw_stops_at_one():
    """Idle machine (load1 under the gate): one draw, no re-draws."""
    import time as _time

    calls = []

    def runner(name, sf_dir, timeout_sec):
        calls.append(timeout_sec)
        return 1.5

    draws, loads = bench._draw_spot(
        "q", "/x", _time.monotonic() + 100, load_gate=4.0,
        runner=runner, load_fn=lambda: 0.7)
    assert draws == [1.5] and loads == [0.7] and len(calls) == 1


def test_draw_spot_redraws_under_load_and_keeps_all_draws():
    """load1 over the gate at draw time: re-draw up to 3 total, every
    draw and its load1 recorded (the judge's adjudication data)."""
    import time as _time

    results = iter([4.7, 3.9, 3.6])
    loadseq = iter([9.4, 7.1, 6.0])
    draws, loads = bench._draw_spot(
        "q", "/x", _time.monotonic() + 100, load_gate=4.0,
        runner=lambda *a, **k: next(results), load_fn=lambda: next(loadseq))
    assert draws == [4.7, 3.9, 3.6]
    assert loads == [9.4, 7.1, 6.0]
    assert min(draws) == 3.6  # the recorded row


def test_draw_spot_load_drop_stops_redrawing():
    """A re-draw taken after the competing work finished (load back under
    the gate) ends the loop — no third draw burned for nothing."""
    import time as _time

    results = iter([4.7, 1.2])
    loadseq = iter([9.4, 0.9])
    draws, loads = bench._draw_spot(
        "q", "/x", _time.monotonic() + 100, load_gate=4.0,
        runner=lambda *a, **k: next(results), load_fn=lambda: next(loadseq))
    assert draws == [4.7, 1.2] and loads == [9.4, 0.9]


def test_draw_spot_budget_exhaustion_mid_redraw(capsys):
    """Budget running out between re-draws truncates the draw list but
    keeps what was measured."""
    import time as _time

    deadline = _time.monotonic() + 0.05

    def runner(name, sf_dir, timeout_sec):
        _time.sleep(0.1)  # burns past the deadline
        return 2.0

    draws, loads = bench._draw_spot(
        "q", "/x", deadline, load_gate=4.0,
        runner=runner, load_fn=lambda: 99.0)
    assert draws == [2.0]  # second iteration hit the deadline
    assert "budget exhausted" in capsys.readouterr().err


def test_draw_spot_failed_run_ends_loop():
    """A failed/timed-out draw (None) ends the loop without poisoning
    the recorded draws."""
    import time as _time

    results = iter([4.7, None])
    draws, loads = bench._draw_spot(
        "q", "/x", _time.monotonic() + 100, load_gate=4.0,
        runner=lambda *a, **k: next(results), load_fn=lambda: 9.0)
    assert draws == [4.7] and loads == [9.0]


def test_tree_cpu_seconds_monotone_and_covers_children():
    """The contention-stable bench series: /proc-walked CPU seconds for
    this process tree must be positive, monotone, and actually charge a
    child's burned CPU to the tree (r10 verdict item 3)."""
    c0 = bench._tree_cpu_seconds()
    assert c0 > 0.0
    # burn ~0.2s of CPU in a CHILD process
    subprocess.run([sys.executable, "-c",
                    "t=0\nfor i in range(4_000_000): t += i*i"],
                   check=True)
    c1 = bench._tree_cpu_seconds()
    assert c1 >= c0
    assert c1 - c0 > 0.05  # the child's CPU is visible in the delta


def test_cpu_delta_clamps_disappearing_pid():
    """r11 verdict item 2: a PID counted in the before-snapshot that is
    gone at the after-snapshot (worker exited, reaped outside the walked
    tree) must contribute 0 — the old tree-sum diff went NEGATIVE by the
    vanished PID's whole cumulative CPU (committed r11: l2d -6.73s).
    Snapshots are per-PID (self, reaped-children) pairs."""
    before = {1: (10.0, 0.0), 2: (30.0, 0.0), 3: (5.0, 0.0)}
    after = {1: (12.5, 0.0), 3: (5.0, 0.0)}  # pid 2 vanished out-of-tree
    d = bench._cpu_delta(before, after)
    assert d == 2.5  # old sum-diff: (12.5+5.0)-(10+30+5) = -27.5
    # new pid: its full total counts (it started inside the interval)
    assert bench._cpu_delta(before, {**after, 9: (1.5, 0.0)}) == 4.0
    # per-PID counter regression (proc reuse/rollover) clamps at 0 too
    assert bench._cpu_delta({1: (10.0, 0.0)}, {1: (8.0, 0.0)}) == 0.0
    assert bench._cpu_delta({}, {}) == 0.0


def test_cpu_delta_compensates_in_tree_reap():
    """r12 review: a worker reaped by an IN-TREE parent bumps the
    parent's cutime by the child's WHOLE lifetime — the naive clamped
    per-PID diff of combined self+children then over-counted the
    child's pre-interval burn (verified repro: 33.0 where the true
    interval burn is 3.0). The split accounting compensates the
    children delta by the vanished PIDs' before-snapshot self CPU."""
    # parent 100 (self 10), child 200 alive with 30s self at 'before';
    # child burns 2s more, exits, parent reaps (+32 children) and burns
    # 1s itself -> true interval burn is 1 + 2 = 3
    before = {100: (10.0, 0.0), 200: (30.0, 0.0)}
    after = {100: (11.0, 32.0)}
    assert bench._cpu_delta(before, after) == 3.0
    # same child vanishing WITHOUT an in-tree reap (r11's negative-delta
    # shape): compensation clamps to 0, parent's own burn survives
    assert bench._cpu_delta(before, {100: (11.0, 0.0)}) == 1.0


def test_cpu_delta_compensates_vanished_children_counter():
    """r12 advice: a vanished process with a NONZERO children counter (a
    pyspark daemon that exits mid-interval after reaping workers) rolls
    self+children into its parent's cutime — compensating with only the
    vanished SELF component re-counted its pre-interval cutime. The
    compensation is the vanished PID's full before total."""
    # daemon 200: 5s self + 20s already-reaped workers at 'before';
    # burns 1s more, exits; parent 100 reaps (+26 children) and burns
    # 0.5s itself -> true interval burn is 0.5 + 1 = 1.5
    before = {100: (10.0, 0.0), 200: (5.0, 20.0)}
    after = {100: (10.5, 26.0)}
    assert bench._cpu_delta(before, after) == 1.5  # self-only comp: 21.5


def test_cpu_delta_nonnegative_with_dying_child():
    """End-to-end reproducer shape for the r11 negative-CPU bug: a child
    burns CPU between the snapshots and EXITS before the after-snapshot;
    the delta must stay >= 0 and not swallow the parent's own burn."""
    c0 = bench._tree_cpu_snapshot()
    # child burns ~0.2s and exits (reaped) before the second snapshot
    subprocess.run([sys.executable, "-c",
                    "t=0\nfor i in range(4_000_000): t += i*i"],
                   check=True)
    t = 0
    for i in range(2_000_000):  # parent burn, visible pid-wise
        t += i * i
    d = bench._cpu_delta(c0, bench._tree_cpu_snapshot())
    assert d >= 0.0
    assert d > 0.01  # the parent's own burn survives the clamp


def test_emit_line_under_budget_with_full_registry(tmp_path):
    """r11 verdict item 1: the final stdout line must stay under the
    driver's 2000-byte tail with the FULL current registry worth of
    per-query timings and CPU seconds, all optional fields populated,
    and the sidecar carrying the detail that overflowed r11's line.
    Headroom is asserted with 40 long query names: the wall map survives
    whole, and the positional CPU array is shed whole, never cut."""
    names = [s.name for s in bench.plans.REGISTRY.values() if s.bench]
    queries = {n: 12.345 for n in names}
    # distinct values, so a reordered array fails
    cpu = {n: 100.0 + i + 0.125 for i, n in enumerate(names)}
    out = {
        "metric": "headline_queries_total", "value": 24.43, "unit": "sec",
        "queries": queries, "sf": 0.1, "n_registered": 256,
        "process_cpu_seconds_total": 312.456,
        "queries_cpu": [cpu[n] for n in queries], "idle_released": True,
        "skew_ratio_asof": 1.53, "skew_overhead_sec": 0.21,
        "skew_ratio_in_envelope": True, "skew_overhead_in_envelope": True,
    }
    detail = {"queries_cpu_sec": cpu,
              "idle_gate": {"threshold": 2.0, "waited_sec": 0.0,
                            "load1_at_release": 0.8, "released_idle": True},
              "loadavg_start": [1, 1, 1], "loadavg_end": [1, 1, 1]}
    sidecar = tmp_path / "BENCH_DETAIL.json"
    line = bench._emit(out, detail, detail_path=str(sidecar))
    assert len(line.encode()) < 1900
    parsed = json.loads(line)
    assert parsed == out  # nothing shed at today's size
    assert len(parsed["queries_cpu"]) == len(parsed["queries"]) == len(names)
    assert parsed["queries_cpu"] == [cpu[n] for n in parsed["queries"]]
    side = json.loads(sidecar.read_text())
    assert side["queries_cpu_sec"] == cpu
    assert side["idle_gate"]["released_idle"] is True

    long_names = {f"l{i:02d}_a_realistically_long_query_name": 1.234
                  for i in range(40)}
    line = bench._emit(dict(out, queries=long_names,
                            queries_cpu=[9.876] * 40),
                       detail, detail_path=str(sidecar))
    assert len(line.encode()) < 1900
    parsed = json.loads(line)
    assert parsed["queries"] == long_names
    assert "queries_cpu" not in parsed
    assert parsed["process_cpu_seconds_total"] == 312.456


def test_emit_sheds_to_stay_parseable(tmp_path):
    """If the registry ever triples, the line sheds optional fields and
    then the FASTEST queries (with an omission count) — the headline
    ``value`` must parse out of the driver's tail no matter what."""
    queries = {f"q{i:03d}_{'x' * 30}": float(i) for i in range(120)}
    out = {"metric": "headline_queries_total", "value": 99.9, "unit": "sec",
           "queries": queries, "sf": 0.1, "n_registered": 900,
           "process_cpu_seconds_total": 1.0, "idle_released": True}
    line = bench._emit(out, {}, detail_path=str(tmp_path / "d.json"))
    assert len(line.encode()) < 1900
    parsed = json.loads(line)
    assert parsed["value"] == 99.9
    assert parsed["queries_omitted"] > 0
    # the slowest (most diagnostic) queries survive the shed
    kept = parsed["queries"]
    assert max(queries.values()) == max(kept.values())
    assert min(kept.values()) > min(queries.values())


def test_emit_survives_unwritable_sidecar(capsys):
    """The sidecar is best-effort: an unwritable path must not sink the
    bench run — the compact line is still returned."""
    out = {"metric": "m", "value": 1.0, "unit": "sec", "queries": {},
           "sf": 0.1}
    line = bench._emit(out, {"k": 1}, detail_path="/nonexistent/dir/d.json")
    assert json.loads(line)["value"] == 1.0
    assert "sidecar write failed" in capsys.readouterr().err


def test_idle_gate_records_telemetry(monkeypatch):
    """The idle-gate ships its adjudication data: released_idle flags
    whether the gate saw a quiet machine or timed out, and the wait is
    bounded by SPARK_GRAFT_IDLE_WAIT (0 disables)."""
    monkeypatch.setenv("SPARK_GRAFT_IDLE_WAIT", "0")
    monkeypatch.setenv("SPARK_GRAFT_IDLE_GATE", "2.0")
    g = bench._idle_gate()
    assert set(g) == {"threshold", "waited_sec", "load1_at_release",
                      "released_idle"}
    assert g["waited_sec"] < 1.0          # budget 0: no waiting
    assert g["threshold"] == 2.0
    # an impossible threshold with no budget reports released_idle=False
    monkeypatch.setenv("SPARK_GRAFT_IDLE_GATE", "0.0")
    assert bench._idle_gate()["released_idle"] is False


def test_composed_multijvm_spill_profile_wiring():
    """local_cluster_spill (r10 verdict item 2) must stay a REAL
    composition: the exact spill thresholds of spill_pressure (shared
    dict — no drift), a local-cluster master (real executor JVMs), and
    the spill vacuous-guard enabled for it."""
    import tools.hostile_conf_sim as hcs

    master, confs, _env = hcs.PROFILES["local_cluster_spill"]
    assert master.startswith("local-cluster[")
    spill_master, spill_confs, _ = hcs.PROFILES["spill_pressure"]
    threshold_keys = [k for k in spill_confs
                      if "threshold" in k or "FallbackStartsAt" in k]
    assert threshold_keys, "spill_pressure lost its thresholds?"
    for k in threshold_keys:
        assert confs.get(k) == spill_confs[k], k
    # executors must import the package (driver sys.path doesn't
    # propagate) and the UI must be on for the spill metrics
    assert "spark.executorEnv.PYTHONPATH" in confs
    assert confs.get("spark.ui.enabled") == "true"
    # the vacuous-guard actually covers the composed profile
    import inspect

    src = inspect.getsource(hcs.run_profile)
    assert '"local_cluster_spill"' in src.split("check_spill")[1].split(
        "\n")[0]


def test_phase_probe_rejects_missing_or_unknown_probe():
    """tools/phase_probe.py exits with its usage text, not an
    IndexError/KeyError traceback, when the probe name is missing or
    unknown — before it starts a session."""
    tool = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "phase_probe.py")
    for argv in ([], ["bogus"]):
        p = subprocess.run([sys.executable, tool, *argv], capture_output=True,
                           text=True, timeout=120)
        assert p.returncode == 1, p.stderr
        assert "Usage:" in p.stderr and "Traceback" not in p.stderr
