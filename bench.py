#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

These are single cold runs of the registry's headline queries, a smoke
check of the declared set. They are not the performance yardstick: that
is ``kgbench/run.py`` over the workloads ``BENCHMARK.json`` declares.

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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers with one tiny action (not timed)
    QUERIES["q17_multi_source_merge"](spark, sf_dir).limit(1).collect()

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
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
