#!/usr/bin/env python3
"""Benchmark entry point.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --list

Runs one workload (see ``workloads.py``) from the root of a checkout of
this repository and prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from spans the benchmark records around its calls into the
repository. The line before it carries the workload-specific figures and
the environment (nproc, SPARK_GRAFT_CPUS, driver memory, pyspark).

``--list`` prints every workload's metric names and units without
starting Spark.

All files a run writes go to a fresh directory under ``.kgbench/`` in
the checkout (Spark's local dirs and the JVM's temp dir included), which
is removed when the run ends; only the per-seed row-count ledger of
``kg_build`` persists there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _stop_spark(run) -> None:
    """Stop the session, then the JVM the Python process launched, and
    wait for it to exit."""
    if run is None or run.spark is None:
        return
    from pyspark import SparkContext

    run.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to kill
            proc.kill()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list", action="store_true",
                    help="print metric names and units, start nothing")
    args = ap.parse_args(argv)
    if args.list:
        print(json.dumps(workloads.describe(), indent=1, sort_keys=True))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    for need in ("crossbar_data_process_spark/__init__.py", "scripts/kg_build.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"kgbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    run_dir = os.path.join(ROOT, ".kgbench", f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = workloads.Run(ROOT, run_dir, args.workload, args.seed, args.seconds,
                        bool(args.trace))
    try:
        e2e = workloads.WORKLOADS[args.workload](run)
        run.info["peak_rss_mb"] = run.peak_rss_mb()
        layers = workloads.layer_metrics(run, e2e["session_start_s"])
    finally:
        _stop_spark(run)
        shutil.rmtree(run_dir, ignore_errors=True)

    oc = run.outcomes
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    values = layers if args.trace else e2e
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "error_rate": oc.error_rate,
        "errors": oc.errors,
        "env": run.env,
        **run.info,
    }
    if args.trace:
        info["trace_overhead_share_of_wall"] = (
            run.tracer.overhead_s / run.info["wall_s"]
        )
    print(json.dumps(info, sort_keys=True, default=str))
    print(json.dumps({
        "correct": oc.failed == 0,
        "attempted": oc.attempted,
        "failed": oc.failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": u} for k, u in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
