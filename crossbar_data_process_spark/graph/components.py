"""Connected components via iterative min-label propagation (the GraphX/
Pregel algorithm expressed as DataFrame joins).

Each node starts labeled with its own id; every superstep each node adopts
the min label among itself and its neighbors; stop when no label changes.
Only labels that changed in the previous superstep send messages (labels
only decrease, so an unchanged label has already reached its neighbors).
Per superstep: one shuffle keyed on node id (groupBy min), one broadcast-or-
shuffle join labels⋈edges. Converges in O(diameter) supersteps — large-
diameter graphs would want the alternating small-star/large-star algorithm;
biomedical KGs and similarity graphs are low-diameter, so plain propagation
is the right trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.pregel import supersteps


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 30,
    driver_max_edges: int | None = 500_000,
    endpoints_in_nodes: bool = False,
) -> DataFrame:
    """Returns (id, component) with component = min node id in the component.

    ``nodes``: one column ``id_col``; ``edges``: ``src_col``/``dst_col``
    (undirected semantics — both directions are propagated).

    Small-graph fast path (r16 optimization round, guide §1.2 "the
    distributed algorithm" first): a duplicate-pair graph is usually a
    tiny fraction of the corpus (micro-batch dedup, LSH pair sets), yet
    the propagation loop pays ≥2 full iterations — each a labels⋈edges
    join, a groupBy, a persist, and a convergence-count JOB — plus an
    iteration-deep join lineage every downstream consumer re-plans. When
    the edge list fits a BOUNDED driver budget (``driver_max_edges``,
    the same driver-bound contract as ``ivf_fit``'s ``driver_fit_rows``),
    the components are resolved with one union-find over ONE bounded
    collect, and the result re-enters the plan as a broadcast map joined
    to ``nodes`` — identical (id, component) output (min-id label, exact
    components; pinned against the loop in tests/test_graph_hygiene.py),
    ~10× fewer jobs, and a flat downstream plan. Graphs past the budget
    take the distributed loop exactly as before — the probe is a
    ``limit(budget+1)`` collect that short-circuits without scanning the
    full edge set. ``driver_max_edges=0``/``None`` disables the fast
    path (tests use it to pin loop ≡ fast path).

    Loop semantics preserved exactly: only edges whose BOTH endpoints
    appear in ``nodes`` can propagate labels (an endpoint outside
    ``nodes`` never holds a label), so the fast path filters its
    collected edges with two semi-joins before resolving; NULL endpoints
    never match a join and are skipped the same way. A caller that
    GUARANTEES every edge endpoint appears in ``nodes`` (e.g.
    ``resolve_neardups``, whose node set is derived from the pairs
    themselves) passes ``endpoints_in_nodes=True`` to skip the two
    semi-joins — the probe is then one narrow limit+collect over the
    edge table.

    The loop path runs on ``pregel.supersteps``, which owns its cache
    hygiene.
    """
    if driver_max_edges:
        pruned = edges.select(
            F.col(src_col).alias("a"), F.col(dst_col).alias("b")
        )
        if not endpoints_in_nodes:
            pruned = pruned.join(
                nodes.select(F.col(id_col).alias("a")), "a", "left_semi"
            ).join(nodes.select(F.col(id_col).alias("b")), "b", "left_semi")
        probe = pruned.limit(int(driver_max_edges) + 1).collect()
        if len(probe) <= int(driver_max_edges):
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in probe:
                a, b = row[0], row[1]
                if a is None or b is None:
                    continue
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min-id root so the representative IS the min label
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            comp_rows = [(x, find(x)) for x in parent]
            id_type = nodes.schema[id_col].dataType
            from pyspark.sql.types import StructField, StructType

            cm = nodes.sparkSession.createDataFrame(
                comp_rows,
                StructType(
                    [
                        StructField("id", id_type),
                        StructField("__cc", id_type),
                    ]
                ),
            )
            return (
                nodes.select(F.col(id_col).alias("id"))
                .join(F.broadcast(cm), "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("__cc"), F.col("id")).alias(
                        "component"
                    ),
                )
            )
    sym = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).unionByName(
        edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
    )

    def step(labels: DataFrame) -> DataFrame:
        senders = labels.filter(F.col("__changed"))
        neighbor_min = (
            sym.join(senders, sym["a"] == senders["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        # no message (NULL) or no smaller label: unchanged, not a sender
        return labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least("component", "nbr_comp").alias("component"),
            (F.col("nbr_comp") < F.col("component")).alias("__changed"),
        )

    labels = nodes.select(
        F.col(id_col).alias("id"),
        F.col(id_col).alias("component"),
        F.lit(True).alias("__changed"),
    )
    return supersteps(labels, step, max_iters, active="__changed")
