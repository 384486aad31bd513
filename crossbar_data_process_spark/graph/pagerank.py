"""PageRank as an iterative DataFrame program (GraphX-equivalent).

Fixed iteration count for determinism (no float-tolerance convergence test —
results must be reproducible for the correctness harness). Dangling-node
mass is redistributed uniformly, matching the standard formulation. A
superstep of the loop is out-degree and contribution joins, a groupBy on
dst and a dangling-mass aggregate (about ten jobs); a graph within
``pregel.DRIVER_MAX_EDGES`` is instead solved on the driver with the same
arithmetic, bit for bit.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.pregel import driver_graph, supersteps

_UNITS = 10**18  # one DECIMAL(38,18) unit is 1 / _UNITS


def _dec(x: float) -> int:
    """Spark's ``cast(x as decimal(38,18))`` in units: the JVM parses
    ``Double.toString(x)`` and rounds HALF_UP to 18 places. Python's
    ``repr`` gives the same digits on the JDKs this runs on (pinned
    against the JVM in tests/test_graph_hygiene.py)."""
    return int(Decimal(repr(x)).quantize(Decimal("1e-18"), ROUND_HALF_UP).scaleb(18))


def _driver_ranks(ids: list, pairs: list[tuple], damping: float, iters: int) -> list:
    """The loop's supersteps on collected ids and pairs, mirroring its
    joins: a node row counts once per duplicate (in ``n`` and in what it
    sends), a NULL id is dangling, a NULL endpoint never matches,
    ``out_deg`` counts every edge of its ``src`` and contributions to ids
    outside ``nodes`` are dropped. Decimal sums are exact integer sums of
    units, and ``int / int`` rounds correctly, as BigDecimal's
    ``doubleValue`` does."""
    n = len(ids)
    mult = Counter(ids)
    out_deg = Counter(s for s, _ in pairs)
    routed = [
        (s, d) for s, d in pairs if s in mult and d in mult and None not in (s, d)
    ]
    senders = {s for s, _ in routed}
    dangling = [v for v in mult if v is None or v not in out_deg]
    base = (1 - damping) / n
    rank = dict.fromkeys(mult, 1.0 / n)
    for _ in range(iters):
        share = {s: mult[s] * _dec(rank[s] / out_deg[s]) for s in senders}
        recv = Counter()
        for s, d in routed:
            recv[d] += share[s]
        dang = sum(mult[v] * _dec(rank[v]) for v in dangling) / _UNITS
        rank = {
            v: base + damping * (recv[v] / _UNITS + dang / float(n))
            for v in mult
        }
    return [(v, rank[v]) for v in ids]


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
    oracle possible for an iterative float algorithm — and what lets the
    driver step reproduce the loop exactly, for the id types
    ``pregel.driver_graph`` admits. Its result is a local DataFrame; the
    loop's ``iters`` supersteps run on ``pregel.supersteps``, which owns
    the cache hygiene."""
    graph = driver_graph(nodes, edges, id_col, src_col, dst_col)
    if graph is not None:
        id_type = nodes.schema[id_col].dataType.simpleString()
        return nodes.sparkSession.createDataFrame(
            _driver_ranks(*graph, damping, iters), f"id {id_type}, rank double"
        )
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
