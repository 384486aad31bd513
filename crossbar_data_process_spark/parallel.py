"""Concurrent execution of INDEPENDENT Spark actions (optimization
guide §2.6 "Overlap independent jobs"): Spark's scheduler happily runs
several jobs at once inside one application — actions are only
sequential because driver code calls them sequentially. Writes of
tables that share nothing but an ALREADY-MATERIALIZED upstream block set
(the gold tables, say) can be submitted from a small thread pool: the
next write's tasks back-fill executors freed by the current write's
straggler tail — wall time approaches max(write) instead of Σ(write),
at identical results (disjoint output paths, deterministic inputs).
No package code calls it today.

Caller contract (race hygiene): any LAZY shared intermediate
(non-eager ``materialize``/``localCheckpoint``) must be materialized by
a job that runs BEFORE the fork — two concurrent first-consumers would
each compute the shared blocks (correct via block-manager locking, but
duplicated work at exactly the scale where this helper pays). A caller
stages its writes so the shared checkpoint's first consumer runs alone.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrently(
    thunks: list[Callable[[], None]], max_workers: int = 4
) -> None:
    """Run independent no-arg actions concurrently; propagate the first
    failure (remaining actions still run to completion — Spark jobs are
    not interrupted mid-write by a sibling's failure, which keeps every
    output either fully written or fully absent per its own commit
    protocol). FIFO scheduling (Spark's default) gives exactly the
    back-fill behavior the guide describes. Each thunk runs with the
    caller's local properties (job group, scheduler pool), so its jobs
    are listed under the caller's group."""
    if len(thunks) <= 1:
        for t in thunks:
            t()
        return
    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(thunks))
    ) as pool:
        # one wrap per thunk: each gets its own copy of the properties
        session = SparkSession.active()
        futures = [
            pool.submit(inheritable_thread_target(session)(t)) for t in thunks
        ]
        first_err: BaseException | None = None
        for f in futures:
            try:
                f.result()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
