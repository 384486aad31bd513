"""Ontology / hierarchy closure (SURVEY.md §1.1: MONDO/HPO/GO/EC DAGs —
disease.py:231-238, go.py:465-476, ec.py:274-313).

``transitive_closure`` computes ancestor→descendant reachability by iterated
join (doubling would halve iterations; linear join keeps per-step size
bounded for shallow ontologies, which is the real workload: GO/MONDO depth
≈ 15). The closure is one frame whose ``__new`` flag marks the frontier:
each superstep extends only the frontier by one edge (shuffle on the join
key only) and appends the pairs the closure lacks as the next frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.pregel import supersteps


def transitive_closure(
    edges: DataFrame,
    parent_col: str = "parent",
    child_col: str = "child",
    max_iters: int = 20,
) -> DataFrame:
    """All (ancestor, descendant) pairs reachable via parent→child edges.

    Stops early when a superstep adds no new pairs. The frontier lives in
    the closure frame, so ``pregel.supersteps``' checkpoints truncate its
    lineage too (a separate frontier's plan would embed the previous
    closure, which embeds all prior frontiers).
    """
    base = edges.select(
        F.col(parent_col).alias("ancestor"), F.col(child_col).alias("descendant")
    ).distinct()

    def step(closure: DataFrame) -> DataFrame:
        f = closure.filter(F.col("__new")).alias("f")
        fresh = (
            f.join(base.alias("e"), F.col("f.descendant") == F.col("e.ancestor"))
            .select(F.col("f.ancestor").alias("ancestor"), F.col("e.descendant"))
            .distinct()
            .join(closure, ["ancestor", "descendant"], "left_anti")
        )
        return closure.select(
            "ancestor", "descendant", F.lit(False).alias("__new")
        ).unionByName(fresh.withColumn("__new", F.lit(True)))

    return supersteps(
        base.withColumn("__new", F.lit(True)), step, max_iters, active="__new"
    )
