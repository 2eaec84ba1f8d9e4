#!/usr/bin/env python3
"""Benchmark command for nf2pq_spark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Workloads: ``ingest`` (capture files -> run_collector -> Parquet),
``analytics`` (the olap and curation query lists in one session), and
``olap`` / ``curation`` alone. With ``--trace 0`` the run reports the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` a traced run
reports the per-layer metrics (metrics of layers the workload does not
exercise read 0). The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted``/``failed`` count flows (ingest) or query executions
(queries); the failed share is failed/attempted. The exit code is 0 only
when every output was correct. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "analytics", "olap", "curation")


def _declared_metrics(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("nf2pq_spark/__init__.py", "bench.py",
                           "BENCHMARK.json")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing "
              f"{missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import common

    declared = _declared_metrics(bool(args.trace))
    common.prepare_environment()
    setup_t0 = _T0
    if args.workload != "ingest":
        import analytics

        # a DuckDB build of the oracles (fixtures that differ from the
        # committed fingerprints) is not part of setup_s
        oracles, built_s = analytics.oracle_fingerprints()
        setup_t0 += built_s
    spark = common.start_session()
    common.log(f"session started after {time.perf_counter() - setup_t0:.1f}s")
    try:
        if args.workload == "ingest":
            import ingest

            result = ingest.run(spark, args.seed, args.seconds,
                                bool(args.trace), setup_t0)
        else:
            result = analytics.run(spark, analytics.WORKLOADS[args.workload],
                                   args.seed, args.seconds, bool(args.trace),
                                   setup_t0, oracles)
    finally:
        common.stop_session(spark)
        common.remove_package_tmp_dirs()
        shutil.rmtree(common.WORK_DIR, ignore_errors=True)
    measured, attempted, failed, correct, samples = result

    unknown = sorted(set(measured) - set(declared))
    if unknown:
        print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}",
              file=sys.stderr)
        return 2
    metrics = {}
    for name, unit in declared.items():
        value = measured.get(name, 0.0)
        metrics[name] = {"value": float(value), "unit": unit}
        if name in measured:
            print(f"{args.workload:>9} {name:<52} {value:>16.6f} {unit:<6}"
                  f" n={samples.get(name, 1)}")
    print(f"{args.workload:>9} samples: {samples}; {failed} of {attempted} "
          f"operations failed; wall {time.perf_counter() - _T0:.1f}s")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
