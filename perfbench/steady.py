#!/usr/bin/env python3
"""Steadiness mode: run the benchmark command repeatedly, one seed per
run, untraced, and print every end-to-end metric's median, quartiles and
quartile spread (IQR / median) next to its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workloads ingest analytics --runs 10
    python3 perfbench/steady.py --workloads ingest olap curation --runs 1

Each run's own report (metric, value, unit, sample count) is echoed as
it finishes. A spread at most a third of the bound reads "steady", at
most the bound "within bound", otherwise "UNSTEADY". Exits nonzero if
any run failed or reported a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    ok = True
    for workload in args.workloads:
        results = []
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", workload, "--seed", str(seed),
                   "--seconds", str(args.seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.rstrip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                result = None
            if p.returncode != 0 or result is None or not result["correct"]:
                ok = False
                print(f"{workload} seed {seed}: exit {p.returncode}\n"
                      + "\n".join(p.stderr.splitlines()[-20:]))
            if result is None:
                continue
            print("\n".join(lines[:-1]), flush=True)
            results.append(result)
        if len(results) > 1:
            _summary(workload, results, bounds)
    return 0 if ok else 1


def _summary(workload: str, results: list[dict], bounds: dict) -> None:
    print(f"\n{workload}: {len(results)} runs, "
          f"{sum(r['failed'] for r in results)} of "
          f"{sum(r['attempted'] for r in results)} operations failed")
    print(f"{'metric':<48} {'unit':<6} {'median':>14} {'q1':>14} "
          f"{'q3':>14} {'spread':>8} {'bound':>6}")
    for name, m in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        if not any(values):
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds[name]
        verdict = ("steady" if spread <= bound / 3
                   else "within bound" if spread <= bound else "UNSTEADY")
        print(f"{name:<48} {m['unit']:<6} {med:>14.6f} {q1:>14.6f} "
              f"{q3:>14.6f} {spread:>8.4f} {bound:>6} {verdict}")


if __name__ == "__main__":
    sys.exit(main())
