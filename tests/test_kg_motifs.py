"""2-hop KG motif (plans/kg.py): path semantics + the designed plan shape
(equi-joins only, and the single post-join exchange on the source key is
reused by both the path aggregation and the top-k window)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossbar_data_process_spark.plans.kg import (
    drug_target_disease_paths,
    two_hop_paths,
)


def _edges(spark):
    dti = spark.createDataFrame(
        [
            ("d1", "t1", 0.9),
            ("d1", "t2", 0.5),
            ("d2", "t1", 0.4),
        ],
        "drug string, target string, affinity double",
    )
    gda = spark.createDataFrame(
        [
            ("t1", "flu", 0.8),
            ("t1", "asthma", 0.2),
            ("t2", "flu", 1.0),
        ],
        "target string, disease string, assoc double",
    )
    return dti, gda


def test_two_hop_path_aggregation(spark):
    dti, gda = _edges(spark)
    out = drug_target_disease_paths(dti, gda, k=3).collect()
    rows = {(r.drug, r.disease): r for r in out}
    # d1→flu has two witnesses: via t1 (0.9*0.8=0.72) and t2 (0.5*1.0=0.5)
    assert rows[("d1", "flu")].n_paths == 2
    assert abs(rows[("d1", "flu")].best_score - 0.72) < 1e-9
    assert rows[("d1", "flu")].rnk == 1
    assert rows[("d1", "asthma")].n_paths == 1
    assert rows[("d2", "flu")].rnk == 1
    # top-k ordering: d1 flu (0.72) then asthma (0.18)
    assert rows[("d1", "asthma")].rnk == 2


def test_two_hop_counts_only_without_scores(spark):
    dti, gda = _edges(spark)
    out = two_hop_paths(
        dti.select(F.col("drug").alias("src"), F.col("target").alias("mid")),
        gda.select(F.col("target").alias("mid"), F.col("disease").alias("dst")),
    ).collect()
    rows = {(r.src, r.dst): r.n_paths for r in out}
    assert rows[("d1", "flu")] == 2 and rows[("d2", "asthma")] == 1
    assert "best_score" not in out[0].asDict()


def test_plan_no_cartesian_and_reused_exchange(spark):
    dti, gda = _edges(spark)
    plan = (
        drug_target_disease_paths(dti, gda, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges: ≤2 to feed the hop join (broadcast may remove one) + exactly
    # 1 post-join repartition(src); the groupBy(src,dst) and the window
    # PARTITION BY src must NOT add further exchanges
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan
    # the window sort exists but no exchange sits between agg and window
    assert "Window" in plan


def test_chain_paths_three_hop(spark):
    from crossbar_data_process_spark.plans.kg import chain_paths

    e1 = spark.createDataFrame(
        [("d1", "t1", 0.5), ("d1", "t2", 1.0)], "src string, dst string, s double"
    )
    e2 = spark.createDataFrame(
        [("t1", "p1", 0.8), ("t2", "p1", 0.5)], "src string, dst string, s double"
    )
    e3 = spark.createDataFrame(
        [("p1", "x1", 1.0), ("p1", "x2", 0.1)], "src string, dst string, s double"
    )
    out = {
        (r.src, r.dst): r
        for r in chain_paths([e1, e2, e3], score="s", k=2).collect()
    }
    # d1→x1 paths: d1-t1-p1-x1 (0.4) and d1-t2-p1-x1 (0.5)
    assert out[("d1", "x1")].n_paths == 2
    assert abs(out[("d1", "x1")].best_score - 0.5) < 1e-9
    assert out[("d1", "x1")].rnk == 1
    assert out[("d1", "x2")].rnk == 2


def test_chain_paths_counts_without_scores(spark):
    from crossbar_data_process_spark.plans.kg import chain_paths

    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    e2 = spark.createDataFrame([("b", "z")], "src string, dst string")
    out = chain_paths([e, e2]).collect()
    assert [(r.src, r.dst, r.n_paths) for r in out] == [("a", "z", 1)]


# ---------- property: chain_paths matches brute-force path enumeration

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_nodes = st.sampled_from(["a", "b", "c", "d"])
_edge_lists = st.lists(
    st.tuples(_nodes, _nodes, st.integers(1, 4)), min_size=1, max_size=8
).map(lambda rows: list({(s, d): w for s, d, w in rows}.items()))


def _brute(e1, e2):
    out = {}
    for (s, m), w1 in e1:
        for (m2, d), w2 in e2:
            if m == m2:
                key = (s, d)
                n, best = out.get(key, (0, None))
                p = float(w1 * w2)
                out[key] = (n + 1, p if best is None else max(best, p))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(l1=_edge_lists, l2=_edge_lists)
def test_chain_paths_matches_bruteforce(spark, l1, l2):
    from crossbar_data_process_spark.plans.kg import chain_paths

    mk = lambda rows: spark.createDataFrame(
        [(s, d, float(w)) for (s, d), w in rows],
        "src string, dst string, s double",
    )
    expected = _brute(l1, l2)
    for agg in (False, True):
        got = {
            (r.src, r.dst): (r.n_paths, r.best_score)
            for r in chain_paths(
                [mk(l1), mk(l2)], score="s", aggregate_hops=agg
            ).collect()
        }
        assert got == expected, f"aggregate_hops={agg}"


def _hub_edges(spark, fan: int):
    """src --fan--> hubs --fan--> hubs --fan--> dst: a 3-hop chain where
    every hop has ``fan`` parallel intermediate nodes fully connected to
    the next layer — path count fan^3, reachable pairs per layer O(fan)."""
    mk = lambda rows: spark.createDataFrame(
        [(s, d, 1.0) for s, d in rows], "src string, dst string, s double"
    )
    e1 = mk([("s", f"a{i}") for i in range(fan)])
    e2 = mk([(f"a{i}", f"b{j}") for i in range(fan) for j in range(fan)])
    e3 = mk([(f"b{j}", "t") for j in range(fan)])
    return [e1, e2, e3]


def test_chain_paths_growth_cap_bounds_frontier(spark):
    from crossbar_data_process_spark.plans.kg import chain_frontier, chain_paths

    fan = 6
    edges = _hub_edges(spark, fan)
    # uncapped: one row per path = fan * fan * 1 after the last hop
    uncapped = chain_frontier(edges, score="s", aggregate_hops=False)
    assert uncapped.count() == fan * fan
    # capped: one row per reachable (src, node) pair = 1 (only "t" reachable)
    capped = chain_frontier(edges, score="s", aggregate_hops=True)
    rows = capped.collect()
    assert len(rows) == 1
    # and the DP still counts every path exactly: fan^2 s→t paths via b_j
    assert rows[0].n_paths == fan * fan
    # end-to-end result identical in both modes
    for agg in (False, True):
        out = chain_paths(edges, score="s", aggregate_hops=agg).collect()
        assert [(r.src, r.dst, r.n_paths, r.best_score) for r in out] == [
            ("s", "t", fan * fan, 1.0)
        ]


def test_chain_frontier_intermediate_bounded(spark):
    """After hop 2 (before the last hop) the capped frontier holds one row
    per reachable (src, node) pair — ``fan`` rows — while the uncapped one
    holds one row per path — ``fan²`` rows."""
    from crossbar_data_process_spark.plans.kg import chain_frontier

    fan = 5
    e1, e2, _ = _hub_edges(spark, fan)
    assert chain_frontier([e1, e2], score="s", aggregate_hops=True).count() == fan
    assert (
        chain_frontier([e1, e2], score="s", aggregate_hops=False).count()
        == fan * fan
    )


# ---------- plan and job pins: one source-key exchange per chain

def _parquet_hops(spark, tmp_path):
    """3 hops read from parquet, so their sizes are known at planning and
    each is broadcastable — the shape of the gold edge tables."""
    hops = []
    for i, rows in enumerate(
        [
            [("d1", "t1", 0.5), ("d1", "t2", 1.0), ("d2", "t1", 0.3)],
            [("t1", "p1", 0.8), ("t2", "p1", 0.5), ("t2", "p2", 0.5)],
            [("p1", "x1", 1.0), ("p1", "x2", 0.1), ("p2", "x2", 0.7)],
        ]
    ):
        path = str(tmp_path / f"hop{i}")
        spark.createDataFrame(rows, "src string, dst string, s double").write.parquet(
            path
        )
        hops.append(spark.read.parquet(path))
    return hops


def _exchanges_and_jobs(spark, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    rows = sorted(map(tuple, df.collect()))
    jobs = len(set(st.getJobIdsForGroup(None)) - before)
    return (
        plan.count("Exchange hashpartitioning"),
        plan.count("BroadcastExchange"),
        jobs,
        rows,
    )


def test_chain_over_broadcast_hops_runs_one_exchange(spark, tmp_path):
    """Over broadcastable hops the folded 3-hop chain repartitions on the
    source once; both folds' worth of grouping, the later hop join, the
    endpoint aggregation and the top-k window reuse it: 1 shuffle and 2
    broadcasts — 4 jobs. The 2-hop form keeps 1 broadcast + 1 shuffle."""
    from crossbar_data_process_spark.plans.kg import chain_paths

    e1, e2, e3 = _parquet_hops(spark, tmp_path)
    chain = lambda: chain_paths([e1, e2, e3], score="s", k=2, aggregate_hops=True)
    _exchanges_and_jobs(spark, chain())  # warm-up: codegen, first-use jobs
    shuffles, broadcasts, jobs, rows = _exchanges_and_jobs(spark, chain())
    assert (shuffles, broadcasts, jobs) == (1, 2, 4)
    assert rows == [
        ("d1", "x1", 2, 0.5, 1),
        ("d1", "x2", 3, 0.35, 2),
        ("d2", "x1", 1, 0.24, 1),
        ("d2", "x2", 1, 0.024, 2),
    ]
    two = two_hop_paths(
        e1.withColumnRenamed("dst", "mid"), e2.withColumnRenamed("src", "mid"), k=3
    )
    assert _exchanges_and_jobs(spark, two)[:2] == (1, 1)


def test_forced_sort_merge_chain_no_more_exchanges(spark, tmp_path):
    """With broadcasts off every hop join shuffles both sides; the source
    repartition must still not add exchanges over the shape it replaced,
    which folded after every hop (8 exchanges folded, 5 unfolded)."""
    from crossbar_data_process_spark.plans.kg import chain_paths

    hops = _parquet_hops(spark, tmp_path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        folded = _exchanges_and_jobs(
            spark, chain_paths(hops, score="s", k=2, aggregate_hops=True)
        )
        unfolded = _exchanges_and_jobs(spark, chain_paths(hops, score="s", k=2))
    finally:
        spark.conf.set(key, old)
    assert folded[1] == unfolded[1] == 0
    assert folded[0] <= 8 and unfolded[0] <= 5
    assert folded[3] == unfolded[3]
