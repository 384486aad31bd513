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
is the right trade. A graph within the bounded-driver budget skips the loop
for a union-find on the driver (``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.pregel import driver_graph, supersteps


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 30,
) -> DataFrame:
    """Returns (id, component) with component = min node id in the component.

    ``nodes``: one column ``id_col``; ``edges``: ``src_col``/``dst_col``
    (undirected semantics — both directions are propagated).

    A graph within ``pregel.DRIVER_MAX_EDGES`` (``pregel.driver_graph``)
    is resolved by one min-root union-find over the collected edges, and
    the result is a local DataFrame built from the collected ids: ~2 jobs
    against ≥ 2 supersteps of joins, groupBys and counts. It returns the
    loop's rows exactly (pinned in tests/test_graph_hygiene.py): only an
    edge whose endpoints are both node ids links anything, since an
    endpoint outside ``nodes`` never holds a label and a NULL one never
    matches, and a NULL node keeps a NULL component. Larger graphs run
    on ``pregel.supersteps``, which owns its cache hygiene.
    """
    graph = driver_graph(nodes, edges, id_col, src_col, dst_col)
    if graph is not None:
        ids, pairs = graph
        members = set(ids) - {None}
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in pairs:
            if a in members and b in members:
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = sorted((find(a), find(b)))
                # min-id root so the representative IS the min label
                parent[rb] = ra
        id_type = nodes.schema[id_col].dataType.simpleString()
        return nodes.sparkSession.createDataFrame(
            [(v, find(v) if v in parent else v) for v in ids],
            f"id {id_type}, component {id_type}",
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
