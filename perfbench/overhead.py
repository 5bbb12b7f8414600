"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload serve --seed 1

Runs the same workload and seed untraced, then traced, and prints each
end-to-end metric of both runs and their difference. The traced run also
prints its per-layer table (span counts, median and self times).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spread import run_once  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    reports = []
    with tempfile.TemporaryDirectory(dir=runs) as d:
        for trace in (0, 1):
            path = os.path.join(d, f"trace{trace}.json")
            run_once(args.workload, args.seed, bench["run_seconds"], trace, path)
            with open(path) as f:
                reports.append(json.load(f))
    plain, traced = reports
    print(f"{'metric':<22} {'untraced':>12} {'traced':>12} {'overhead':>12}")
    for m in bench["end_to_end"]:
        a, u = plain["e2e"][m["name"]]
        b, _ = traced["e2e"][m["name"]]
        print(f"{m['name']:<22} {a:>12.4f} {b:>12.4f} {b - a:>+12.4f} {u}")
    print(f"{'span':<40} {'n':>5} {'median_ms':>12} {'self_ms':>12}")
    for name, n, ms, self_ms in traced["spans"]:
        print(f"{name:<40} {n:>5} {ms:>12.2f} {self_ms:>12.2f}")


if __name__ == "__main__":
    main()
