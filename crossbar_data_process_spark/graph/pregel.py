"""The graph layer's one iteration loop (Pregelix's superstep: state ⋈
messages, then a group-by combine; GraphX's active set: only vertices that
changed send messages).

``supersteps`` owns the cache policy every algorithm shares. Each new state
is persisted and materialized by ONE count job before its predecessor is
released, so storage stays O(1) in iteration count with no recompute
cascade (an ``isEmpty`` probe alone computes partitions only up to the
first hit). Every ``CHECKPOINT_EVERY``-th superstep uses an eager
``localCheckpoint`` instead, which also truncates the lineage, so long
chains don't grow the plan (and driver-side analysis) unboundedly; its
blocks belong to the checkpointed RDD and are freed by the ContextCleaner.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 5


def supersteps(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iters: int,
    active: str | None = None,
) -> DataFrame:
    """Runs ``state = step(state)`` up to ``max_iters`` times.

    ``active`` names a boolean column ``step`` sets on the rows it changed.
    The materializing count then counts only those rows, so the same job
    checks convergence: the loop stops after a superstep that changed
    nothing, and the column is dropped from the result. Without ``active``
    the loop runs exactly ``max_iters`` supersteps.

    The superseded states are released. The result reads the last state's
    cache (or checkpoint), which stays in storage, as does the last
    checkpoint that state's lineage reads.
    """
    prev = None  # the persisted state the next superstep supersedes
    for i in range(1, max_iters + 1):
        new = step(state)
        if i % CHECKPOINT_EVERY == 0:
            new = new.localCheckpoint(eager=True)
            done = active is not None and new.filter(F.col(active)).isEmpty()
            released, prev = prev, None
        else:
            new = new.persist()
            # ONE job scans every partition into the cache and counts the
            # changed rows on the way (DataFrame.count() would add a cache
            # stage and a partial-count shuffle as jobs of their own)
            probe = new if active is None else new.filter(F.col(active))
            n = probe._jdf.queryExecution().toRdd().count()
            done = active is not None and n == 0
            released, prev = prev, new
        if released is not None:
            released.unpersist(blocking=False)
        state = new
        if done:
            break
    return state if active is None else state.drop(active)
