"""PageRank as an iterative DataFrame program (GraphX-equivalent).

Fixed iteration count for determinism (no float-tolerance convergence test —
results must be reproducible for the correctness harness). Contributions
aggregate with a groupBy on dst (one shuffle per superstep); dangling-node
mass is redistributed uniformly, matching the standard formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.pregel import supersteps


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Returns (id, rank), sum of ranks = 1. Deterministic given fixed iters:
    the per-destination contribution sum accumulates in DECIMAL(38,18) so the
    result is independent of partitioning/reduction order (same rule as the
    engine's ``_dsum`` convention), which is what makes a cross-engine SQL
    oracle possible for an iterative float algorithm. The ``iters``
    supersteps run on ``pregel.supersteps``, which owns the cache hygiene."""
    n_nodes = nodes.count()
    out_deg = edges.groupBy(F.col(src_col).alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    e = edges.select(F.col(src_col).alias("esrc"), F.col(dst_col).alias("edst"))

    def step(ranks: DataFrame) -> DataFrame:
        with_deg = ranks.join(out_deg, "id", "left")
        contribs = (
            e.join(with_deg, e["esrc"] == with_deg["id"])
            .select("edst", (F.col("rank") / F.col("out_deg")).alias("contrib"))
            .groupBy(F.col("edst").alias("id"))
            .agg(
                F.sum((F.col("contrib")).cast("decimal(38,18)"))
                .cast("double")
                .alias("recv")
            )
        )
        # dangling mass stays a 1-row DataFrame broadcast into the update —
        # no per-superstep driver collect (anti-pattern at scale; the whole
        # loop remains one lazy plan per superstep)
        dangling = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(38,18)")).cast("double"),
                F.lit(0.0),
            ).alias("__dangling")
        )
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(contribs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("recv"), F.lit(0.0))
                        + F.col("__dangling") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )

    ranks = nodes.select(
        F.col(id_col).alias("id"), F.lit(1.0 / n_nodes).alias("rank")
    )
    return supersteps(ranks, step, iters)
