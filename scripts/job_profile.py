#!/usr/bin/env python3
"""Per-JOB wall-clock profile of one bench query (guide §1: measure
first). Runs the query exactly the way bench.py does (same session
factory, same count() action) with the Spark event log enabled, then
parses the log into a job table: job id, submit→end wall, call site.

Usage: python scripts/job_profile.py q54_ivf_topk [sf_dir]

The event log lands in a pid-scoped /tmp dir wiped on exit. This is a
diagnosis tool — it changes nothing about bench methodology.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crossbar_data_process_spark import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    log_dir = tempfile.mkdtemp(prefix=f"jobprof_{os.getpid()}_")
    spark = get_spark(
        app_name=f"jobprof_{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from crossbar_data_process_spark.plans.queries import QUERIES

    # warm the JVM + parquet footers the way bench.py does (not timed)
    QUERIES["q17_multi_source_merge"](spark, sf_dir).limit(1).collect()
    cutoff_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).count()
    wall = time.perf_counter() - t0
    app_id = spark.sparkContext.applicationId
    spark.stop()

    jobs: dict[int, dict] = {}
    # Spark 4 rolling layout: eventlog_v2_<appid>/events_* ; classic: <appid>
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.startswith("events")
        )
    else:
        parts = [path]

    def _lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    if parts:
        for line in _lines():
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                sinfos = ev.get("Stage Infos") or []
                snames = ""
                if sinfos:
                    result_stage = max(
                        sinfos, key=lambda si: si.get("Stage ID", -1)
                    )
                    snames = result_stage.get("Stage Name", "")
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "site": props.get("callSite.short", "") or snames,
                    "desc": props.get("spark.job.description", ""),
                    "stages": len(ev.get("Stage IDs", [])),
                }
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]

    rows = sorted(
        (jid, j) for jid, j in jobs.items() if j["start"] >= cutoff_ms
    )
    total = 0.0
    print(f"\n== {name}: wall {wall:.2f}s, {len(rows)} jobs ==")
    print(f"{'job':>4} {'sec':>7} {'stg':>4}  site / description")
    prev_end = None
    for jid, j in rows:
        dur = (j.get("end", j["start"]) - j["start"]) / 1000.0
        gap = (j["start"] - prev_end) / 1000.0 if prev_end else 0.0
        prev_end = j.get("end", j["start"])
        total += dur
        label = j["desc"] or j["site"]
        gap_s = f" (+{gap:.2f} gap)" if gap > 0.15 else ""
        print(f"{jid:>4} {dur:>7.2f} {j['stages']:>4}  {label}{gap_s}")
    print(f"sum of job walls: {total:.2f}s (gaps = driver-side work)")
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
