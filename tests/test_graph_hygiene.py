"""Cache hygiene of iterative graph jobs + size-aware mapping joins.

VERDICT r01 items 3-4: iterative jobs must not accumulate persisted storage
linearly with iteration count, and broadcast_map/fallback_map must not force
a broadcast hint by default (a mapping small at test scale can be tens of GB
at production scale).
"""

from __future__ import annotations

import gc
import re
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from crossbar_data_process_spark.graph.components import connected_components
from crossbar_data_process_spark.graph.hierarchy import transitive_closure
from crossbar_data_process_spark.graph.pagerank import pagerank
from crossbar_data_process_spark.graph.pregel import CHECKPOINT_EVERY, supersteps
from crossbar_data_process_spark.operators.mapping import broadcast_map, fallback_map


def _storage_entries(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _quiet_storage_entries(spark) -> int:
    """Storage entries once earlier tests' unreferenced checkpoint blocks
    had a chance to be cleaned, so their release can't mask a leak."""
    for _ in range(3):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    return _storage_entries(spark)


def _settled_storage_delta(
    spark, before: int, timeout_s: float = 20.0, at_most: int = 0
) -> int:
    """Storage-entry delta after giving the async unpersist + ContextCleaner
    a chance to run (non-blocking unpersist and GC-driven checkpoint cleanup
    are both asynchronous); stops waiting once the delta is ``at_most``."""
    deadline = time.monotonic() + timeout_s
    delta = _storage_entries(spark) - before
    while delta > at_most and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        delta = _storage_entries(spark) - before
    return delta


@pytest.mark.slow
def test_components_30_iters_storage_bounded(spark):
    # Path graph: the min label travels one hop per iteration, so a 40-node
    # path does NOT converge within 30 iterations — the loop runs all 30.
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src int, dst int"
    )
    before = _storage_entries(spark)
    # driver_max_edges=None: this test pins the LOOP's storage hygiene —
    # the r16 small-graph fast path would otherwise resolve this tiny
    # graph driver-side and exercise nothing
    out = connected_components(
        nodes, edges, max_iters=30, driver_max_edges=None
    )
    rows = out.collect()
    assert len(rows) == n
    # after 30 iterations every node within 30 hops of node 0 carries label 0
    labels = {r["id"]: r["component"] for r in rows}
    assert labels[30] == 0 and labels[0] == 0
    # unfixed behavior: ~2 entries per iteration (60+). Fixed: the live
    # iteration + a handful of not-yet-GC'd localCheckpoint blocks.
    assert _settled_storage_delta(spark, before) <= 10


def test_components_fast_path_matches_loop(spark):
    """The r16 small-graph fast path (bounded driver union-find +
    broadcast map) must return the IDENTICAL (id, component) set as the
    distributed propagation loop — including isolated nodes, duplicate
    edges, self-loops, and edges whose endpoint is OUTSIDE ``nodes``
    (which the loop cannot propagate through and the fast path must
    filter out)."""
    import random

    rng = random.Random(41)
    nodes = spark.createDataFrame(
        [(i,) for i in range(60)], "id long"
    )
    edge_rows = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    # endpoints outside `nodes` must not link 3 and 7 (x=999 holds no
    # label in the loop); duplicate + self-loop edges are harmless
    edge_rows += [(3, 999), (999, 7), (5, 5), (10, 11), (10, 11)]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    fast = {
        (r.id, r.component)
        for r in connected_components(nodes, edges).collect()
    }
    loop = {
        (r.id, r.component)
        for r in connected_components(
            nodes, edges, driver_max_edges=None
        ).collect()
    }
    assert fast == loop
    # over-budget graphs fall back to the loop (same answer)
    capped = {
        (r.id, r.component)
        for r in connected_components(
            nodes, edges, driver_max_edges=3
        ).collect()
    }
    assert capped == loop
    # the endpoints_in_nodes contract (resolve_neardups' shape): when
    # every endpoint IS in nodes, skipping the semi-joins changes nothing
    in_nodes = spark.createDataFrame(
        [(a, b) for a, b in edge_rows if a < 60 and b < 60],
        "src long, dst long",
    )
    assert {
        (r.id, r.component)
        for r in connected_components(
            nodes, in_nodes, endpoints_in_nodes=True
        ).collect()
    } == {
        (r.id, r.component)
        for r in connected_components(
            nodes, in_nodes, driver_max_edges=None
        ).collect()
    }


@pytest.mark.slow
def test_pagerank_storage_bounded_and_converges(spark):
    n = 30
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    # ring + one dangling node (no out-edges) to exercise the dangling path
    edges = spark.createDataFrame(
        [(i, (i + 1) % (n - 1)) for i in range(n - 1)], "src int, dst int"
    )
    before = _storage_entries(spark)
    out = pagerank(nodes, edges, iters=12)
    total = out.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert abs(total - 1.0) < 1e-9
    assert _settled_storage_delta(spark, before) <= 8


@pytest.mark.slow
def test_transitive_closure_storage_bounded(spark):
    # 18-deep chain → 17 iterations of frontier extension
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(18)], "parent string, child string"
    )
    before = _storage_entries(spark)
    out = transitive_closure(edges, max_iters=20)
    # closure of a chain of 19 nodes = 19*18/2 pairs
    assert out.count() == 19 * 18 // 2
    assert _settled_storage_delta(spark, before) <= 10


def test_supersteps_release_stop_and_one_job_per_superstep(spark):
    """The shared loop over a narrow step: every row's counter rises by
    one per superstep until it reaches 5, so supersteps 1-5 change rows
    and superstep 6 changes nothing — the loop must stop right there
    (crossing the CHECKPOINT_EVERY-th superstep on the way), release the
    superseded states, and materialize each non-checkpoint superstep with
    exactly one job."""
    assert CHECKPOINT_EVERY == 5
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "pregel-supersteps-pin"
    marks = []  # group job count when each superstep is planned

    def step(state):
        marks.append(len(tracker.getJobIdsForGroup(group)))
        return state.select(
            "id",
            F.least(F.col("v") + 1, F.lit(5)).alias("v"),
            (F.col("v") < 5).alias("__changed"),
        )

    state = spark.range(64).select("id", F.lit(0).alias("v"))
    before = _quiet_storage_entries(spark)
    sc.setJobGroup(group, "supersteps pin")
    try:
        out = supersteps(state, step, max_iters=20, active="__changed")
        marks.append(len(tracker.getJobIdsForGroup(group)))
    finally:
        sc.setJobGroup(None, None)
    assert len(marks) == 6 + 1  # 6 supersteps, then the end mark
    jobs = [b - a for a, b in zip(marks, marks[1:])]
    assert [j for i, j in enumerate(jobs, 1) if i % CHECKPOINT_EVERY] == [
        1
    ] * 5, jobs
    assert out.columns == ["id", "v"]
    assert {r.v for r in out.collect()} == {5}
    # what stays is the result's cache and the superstep-5 checkpoint its
    # lineage reads; supersteps 1-4 are released (unreleased: 6 entries)
    assert _settled_storage_delta(spark, before, at_most=2) <= 2


def test_transitive_closure_releases_frontier_at_max_iters(spark):
    """Stopping at ``max_iters`` (q29 uses 3) must not leave the last
    frontier persisted next to the returned closure."""
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(10)], "parent string, child string"
    )
    before = _quiet_storage_entries(spark)
    out = transitive_closure(edges, max_iters=3)
    # paths of length 1..4 in an 11-node chain
    assert out.count() == 10 + 9 + 8 + 7
    assert _settled_storage_delta(spark, before, at_most=1) <= 1


def test_cache_policy_lives_in_pregel_only():
    """Only graph/pregel.py may persist, release or checkpoint: every
    other graph module states its algorithm as a ``step``."""
    graph_dir = (
        Path(__file__).resolve().parent.parent
        / "crossbar_data_process_spark"
        / "graph"
    )
    calls = re.compile(r"\.(persist|unpersist|localCheckpoint)\(")
    offenders = [
        f.name
        for f in sorted(graph_dir.glob("*.py"))
        if f.name != "pregel.py" and calls.search(f.read_text())
    ]
    assert offenders == []
    assert calls.search((graph_dir / "pregel.py").read_text())


def _spark_plan(df) -> str:
    # pre-AQE physical plan: shows the join strategy Catalyst picked from
    # stats + hints (AQE may still convert at runtime — the point here is
    # whether WE forced a hint, not what AQE later decides)
    return df._jdf.queryExecution().sparkPlan().toString()


def test_broadcast_map_auto_respects_threshold(spark):
    fact = spark.range(0, 10000).select(F.col("id").alias("k"))
    mapping = spark.range(0, 100).select(
        F.col("id").alias("mk"), (F.col("id") * 2).alias("mv")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        auto_plan = _spark_plan(
            broadcast_map(fact, mapping, on=[("k", "mk")], value_col="mv",
                          out_col="v")
        )
        # auto must NOT override the user's threshold with a forced hint
        assert "BroadcastHashJoin" not in auto_plan
        forced_plan = _spark_plan(
            broadcast_map(fact, mapping, on=[("k", "mk")], value_col="mv",
                          out_col="v", broadcast=True)
        )
        assert "BroadcastHashJoin" in forced_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # under the normal threshold, stats on the tiny mapping still broadcast
    auto_small = _spark_plan(
        broadcast_map(fact, mapping, on=[("k", "mk")], value_col="mv",
                      out_col="v")
    )
    assert "BroadcastHashJoin" in auto_small


def test_fallback_map_auto_respects_threshold(spark):
    fact = spark.range(0, 5000).select(F.col("id").alias("k"))
    m1 = spark.range(0, 50).select(F.col("id").alias("a"), F.lit("x").alias("v1"))
    m2 = spark.range(0, 50).select(F.col("id").alias("b"), F.lit("y").alias("v2"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _spark_plan(
            fallback_map(fact, [(m1, "a", "v1"), (m2, "b", "v2")],
                         key_col="k", out_col="hit")
        )
        assert "BroadcastHashJoin" not in plan
        plan_forced = _spark_plan(
            fallback_map(fact, [(m1, "a", "v1"), (m2, "b", "v2")],
                         key_col="k", out_col="hit", broadcast=True)
        )
        assert "BroadcastHashJoin" in plan_forced
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_textdedup_caches_released_after_gc(spark):
    """ngram/minhash near-dup intermediates must not pin storage for the
    session lifetime (ADVICE r01): materialization goes through non-eager
    localCheckpoint, whose blocks the ContextCleaner frees once the plan is
    garbage-collected. Since r07 a BOUNDED pin (operators/materialize.py,
    maxlen=8) holds the most recent pre-checkpoint plans so their SQLMetric
    accumulators survive late task completions (the BENCH_r06 noise fix) —
    eviction-or-flush, then GC, must still release everything."""
    from crossbar_data_process_spark.operators.materialize import flush_pins
    from crossbar_data_process_spark.operators.textdedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta tok{i % 7} epsilon zeta")
         for i in range(200)],
        "doc_id long, text string",
    )
    before = _storage_entries(spark)
    out = ngram_jaccard_pairs(docs, threshold=0.2)
    out.count()
    out2 = minhash_lsh_pairs(docs, threshold=0.2)
    out2.count()
    del out, out2
    flush_pins()
    assert _settled_storage_delta(spark, before) <= 0
