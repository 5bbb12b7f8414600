"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run builds its
inputs from the seed, drives the engine in `liresolr_spark/`, checks every
output, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics (and the per-layer span table is printed above the JSON line).

Set-up and isolation: cores come from the CPU affinity mask (what `nproc`
prints); the driver heap comes from SPARK_DRIVER_MEM (default 2g); every
run gets a private directory under `.perfbench_runs/` in the checkout for
its index, Spark local dirs and temp files, removed when the run ends;
runs hold a lock so two never overlap.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test smoke size")
    ap.add_argument("--report", help="also write every metric, the run "
                    "environment and the span table to this JSON file")
    return ap.parse_args()


def _wait_gone(pids) -> None:
    deadline = time.time() + 30.0
    for p in pids:
        while time.time() < deadline:
            try:
                os.kill(p, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    children = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone(children)


def main() -> int:
    t_start = time.perf_counter()
    args = parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "liresolr_spark")):
        print(f"no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    # everything the run writes stays in its private directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # the launcher JVM spark-submit starts first writes /tmp/hsperfdata_*
    # unless told not to
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import workloads as W
    from perfbench.stats import (highest_reportable, median, percentile,
                                 valid_name)

    os.makedirs(RUNS_DIR, exist_ok=True)
    lock = open(os.path.join(RUNS_DIR, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)  # strictly sequential runs
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                work, cores, W.TINY if args.size == "tiny" else W.FULL,
                log=lambda m: print(m, flush=True), t_start=t_start)
    try:
        W.run_workload(run)
    except Exception:  # a broken run reports no result
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()

    metrics = run.layer if args.trace else {
        n: run.e2e[n] for n in W.E2E_METRICS}
    bad = [n for n in metrics if not valid_name(n)]
    if bad:
        print(f"invalid metric names: {bad}", file=sys.stderr)
        return 1
    print(f"env: {json.dumps(run.env, sort_keys=True)}")
    for series, xs in sorted(run.latencies().items()):
        p = highest_reportable(len(xs))
        tail = f"p{p:g}={percentile(xs, p):.1f}ms" if p else \
            "no percentile has 10 samples beyond it"
        print(f"{series}: n={len(xs)} median={median(xs):.1f}ms {tail}")
    print(f"error_rate: {len(run.failures) / max(run.attempted, 1):.6f} "
          f"({len(run.failures)}/{run.attempted})")
    for name, (v, unit) in sorted(run.e2e.items()):
        print(f"e2e {name:<24} {v:>14.4f} {unit}")
    for kind, (n, ms) in sorted(run.op_summary().items()):
        print(f"op {kind:<26} n={n:<4} median_ms={ms:.1f}")
    if args.trace:
        print(f"{'span':<40} {'n':>5} {'median_ms':>12} {'self_ms':>12}")
        for name, n, ms, self_ms in run.tracer.table():
            print(f"{name:<40} {n:>5} {ms:>12.2f} {self_ms:>12.2f}")
        for name, (v, unit) in sorted(run.layer.items()):
            print(f"layer {name:<40} {v:>16.4f} {unit}")
    if args.report:
        with open(args.report, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "env": run.env,
                       "e2e": run.e2e, "layer": run.layer,
                       "failures": run.failures,
                       "spans": run.tracer.table() if args.trace else []},
                      f, indent=1)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
