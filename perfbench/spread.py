"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload serve ingest --seeds 1 2 3 4 5

Runs the benchmark once per workload and seed (sequentially, untraced,
with BENCHMARK.json's run_seconds) and prints, per workload and
end-to-end metric, the median with its unit, the interquartile distance
as a share of the median, and whether that spread is below a third of
the metric's bound. Also prints each run's wall time and the share of CPU
time the host gave to other guests during it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int = 0,
             report: str | None = None) -> tuple[dict, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    if report:
        cmd += ["--report", report]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise SystemExit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    env = next((json.loads(x[5:]) for x in lines if x.startswith("env: ")), {})
    return json.loads(lines[-1]), wall, env


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", nargs="+", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in args.workload:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            res, wall, env = run_once(workload, seed, bench["run_seconds"])
            print(f"{workload} seed {seed}: {wall:.1f}s "
                  f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} "
                  f"cpu_steal_share={env.get('cpu_steal_share')}", flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{workload:<22} {'median':>12} {'unit':<10} {'spread':>8} "
              f"{'bound':>6}  below bound/3")
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            sp = spread(xs) if len(xs) >= 2 else float("nan")
            print(f"{m['name']:<22} {median(xs):>12.4f} {m['unit']:<10} "
                  f"{sp:>8.4f} {m['bound']:>6.2f}  "
                  f"{'yes' if sp < m['bound'] / 3 else 'NO'}"
                  f"  {[round(x, 3) for x in xs]}")


if __name__ == "__main__":
    main()
