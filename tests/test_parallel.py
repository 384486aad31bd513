"""``parallel.run_concurrently``: jobs started inside its pool threads
belong to the caller's job group, so per-group job counts (kgbench's
traced layers) see the concurrent writes."""

from __future__ import annotations

from crossbar_data_process_spark.parallel import run_concurrently


def test_thunk_jobs_listed_under_callers_group(spark):
    sc = spark.sparkContext
    group = "run-concurrently-pin"
    sc.setJobGroup(group, "parallel pin")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        run_concurrently(
            [lambda: spark.range(10).collect(), lambda: spark.range(20).collect()]
        )
        after = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    # each collect of a range is one job; both ran in pool threads
    assert len(after - before) == 2
