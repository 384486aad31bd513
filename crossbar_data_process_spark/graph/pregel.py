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

``driver_graph`` is the layer's one bounded-driver mode (Pregelix's point:
pick the physical plan by graph size). A graph within ``DRIVER_MAX_EDGES``
is collected once and solved in Python, which reproduces the loop's
output exactly; a larger one runs ``supersteps``.

``local_frame`` is how a driver-mode result returns to the JVM: once, as
Arrow columns (GraphX keeps its graph as JVM-resident tables). Spark
turns the table into a ``LocalRelation``, or above
``spark.sql.execution.arrow.localRelationThreshold`` into an Arrow RDD
the JVM decodes. Neither path pickles a row or starts a Python worker,
which a list-built ``createDataFrame`` does at its first action.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegralType, StringType

CHECKPOINT_EVERY = 5
DRIVER_MAX_EDGES = 500_000


def local_frame(
    spark: SparkSession, columns: Sequence[Sequence], ddl: str
) -> DataFrame:
    """A DataFrame of driver values: ``columns`` holds one sequence per
    field of the DDL schema ``ddl``, in its order (a struct value is a
    tuple). The values are typed by the schema, not inferred, and cross
    into the JVM as one Arrow table."""
    # imported on first use: a session that never builds a local frame
    # never loads pyarrow
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def driver_graph(
    nodes: DataFrame, edges: DataFrame, id_col: str, src_col: str, dst_col: str
) -> tuple[list, list[tuple]] | None:
    """``(ids, pairs)``: every ``id_col`` value of ``nodes`` and every
    ``(src, dst)`` of ``edges``, duplicates and NULLs kept, or None when
    the graph takes the loop.

    Each side is one ``limit(budget+1)`` collect, which stops reading past
    the budget; either side over ``DRIVER_MAX_EDGES`` rows takes the loop.
    So do id types other than all-integral or all-binary-string: only for
    those is Python's ``==`` Spark's join equality (NaN, for one, equals
    itself in a join and not in Python).
    """
    types = {nodes.schema[id_col].dataType}
    types |= {edges.schema[c].dataType for c in (src_col, dst_col)}
    if types != {StringType()} and not all(
        isinstance(t, IntegralType) for t in types
    ):
        return None
    budget = DRIVER_MAX_EDGES
    pairs = edges.select(src_col, dst_col).limit(budget + 1).collect()
    if len(pairs) > budget:
        return None
    ids = nodes.select(id_col).limit(budget + 1).collect()
    if len(ids) > budget:
        return None
    return [r[0] for r in ids], pairs  # Rows are (src, dst) tuples


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
