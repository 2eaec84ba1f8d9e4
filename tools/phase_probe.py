#!/usr/bin/env python
"""Dev-only per-phase wall-time probe for one query (r14 attribution).

Times named sub-stages of a hot query in a fresh session so optimization
work targets the measured phase, not a guess. Each probe is warmup +
min-of-2 inside its own subprocess session (the scale_stress isolation
protocol). Usage:

    python tools/phase_probe.py g3 [sf_dir]
    python tools/phase_probe.py l25 [sf_dir]
    python tools/phase_probe.py s6 [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from nf2pq_spark.session import get_spark  # noqa: E402
from nf2pq_spark.sources.tables import load_table  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _once(fn):
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _timed(label, fn):
    fn()  # warmup
    t = min(_once(fn), _once(fn))
    print(f"  {label:<38s} {t:7.3f}s")
    return t


def probe_g3(spark, sf_dir):
    from nf2pq_spark.plans.curation import g3_triangle_count

    _timed("full query (noop)", lambda: _noop(
        g3_triangle_count(spark, sf_dir)))


def probe_l25(spark, sf_dir):
    from nf2pq_spark.plans.curation import l25_semdedup_srp

    _timed("full query (noop)", lambda: _noop(
        l25_semdedup_srp(spark, sf_dir)))


def probe_s6(spark, sf_dir):
    from nf2pq_spark.plans.collector import _datagram_dir
    from nf2pq_spark.sources.ipfix import (_extract_templates_pandas,
                                           _TEMPLATE_SCHEMA,
                                           read_flow_files)

    path = _datagram_dir(spark, sf_dir, "v5")
    raw = spark.read.format("binaryFile").load(path).select("path", "content")
    _timed("binaryFile scan only (noop)", lambda: _noop(raw))
    _timed("harvest pass (mapInPandas+collect)", lambda: raw.mapInPandas(
        _extract_templates_pandas, _TEMPLATE_SCHEMA).collect())
    _timed("full decode query (noop)", lambda: _noop(
        read_flow_files(spark, path).groupBy("pr").agg(
            F.count(F.lit(1)).alias("n"))))
    pathm = _datagram_dir(spark, sf_dir, "mixed")
    _timed("mixed: full decode (noop)", lambda: _noop(
        read_flow_files(spark, pathm).groupBy("pr").agg(
            F.count(F.lit(1)).alias("n"))))


def main():
    probes = {"g3": probe_g3, "l25": probe_l25, "s6": probe_s6}
    if len(sys.argv) < 2 or sys.argv[1] not in probes:
        sys.exit(__doc__)
    which = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("phase-probe", cpus=os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, sf_dir, "lineitem").count()  # warm listings/JIT
    print(f"probe {which} @ {sf_dir}")
    probes[which](spark, sf_dir)


if __name__ == "__main__":
    main()
