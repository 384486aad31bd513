#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "calibration": sec, "sf": ...}.

"calibration" is a fixed-size pure-CPU anchor (hash-reduce 4B longs)
measured on the same box/session; divide two boxes' calibration values to
normalize their totals before comparing rounds (BASELINE.md trend table).

Each query is executed with a count-style action (foreach-noop would skip
result materialization; count forces the full plan including final
aggregation/exchange). Timings exclude SparkSession startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crossbar_data_process_spark import get_spark
from crossbar_data_process_spark.plans.queries import BENCH_QUERIES, QUERIES


def _calibration(spark) -> float:
    """Fixed-size pure-CPU anchor (r8 VERDICT #1): hash-reduce 4B longs
    over 32 partitions — constant work, no I/O, no shuffle beyond the
    final 32-partial reduce — so cross-box bench totals can be normalized
    (driver boxes have inflated totals by 30-40% in r03/r06/r08 and each
    time the adjudication had to be re-run by hand). Median of 3 runs;
    divide two boxes' calibration values to get their speed ratio."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 4_096_000_000, 1, 32)
            # max, not sum: ANSI mode throws on the long overflow a 4B-
            # term hash sum guarantees; the measured work is the hashing
            .select(F.max(F.xxhash64("id")).alias("h"))
            .collect()
        )
        return time.perf_counter() - t0

    runs = [once() for _ in range(4)]
    # drop run 0: it carries the kernel's own JIT warmup (measured +20%)
    runs = sorted(runs[1:])
    return round(runs[1], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers with one tiny action (not timed)
    QUERIES["q17_multi_source_merge"](spark, sf_dir).limit(1).collect()

    calibration = _calibration(spark)

    timings: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 3)
        total += dt

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "calibration": calibration,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
