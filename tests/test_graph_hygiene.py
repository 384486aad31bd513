"""Cache hygiene of iterative graph jobs + size-aware mapping joins.

VERDICT r01 items 3-4: iterative jobs must not accumulate persisted storage
linearly with iteration count, and broadcast_map/fallback_map must not force
a broadcast hint by default (a mapping small at test scale can be tens of GB
at production scale).
"""

from __future__ import annotations

import gc
import importlib
import random
import re
import time
from collections import Counter
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from crossbar_data_process_spark.graph import pregel
from crossbar_data_process_spark.graph.components import connected_components
from crossbar_data_process_spark.graph.hierarchy import transitive_closure
from crossbar_data_process_spark.graph.pagerank import _UNITS, _dec, pagerank
from crossbar_data_process_spark.graph.pregel import CHECKPOINT_EVERY, supersteps
from crossbar_data_process_spark.operators.mapping import broadcast_map, fallback_map

# the package re-exports the function under the module's name
pagerank_module = importlib.import_module("crossbar_data_process_spark.graph.pagerank")


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
def test_components_30_iters_storage_bounded(spark, monkeypatch):
    # Path graph: the min label travels one hop per iteration, so a 40-node
    # path does NOT converge within 30 iterations — the loop runs all 30.
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src int, dst int"
    )
    before = _storage_entries(spark)
    # a zero budget: this test pins the LOOP's storage hygiene — the
    # bounded-driver mode would otherwise resolve this tiny graph on the
    # driver and exercise nothing
    monkeypatch.setattr(pregel, "DRIVER_MAX_EDGES", 0)
    out = connected_components(nodes, edges, max_iters=30)
    rows = out.collect()
    assert len(rows) == n
    # after 30 iterations every node within 30 hops of node 0 carries label 0
    labels = {r["id"]: r["component"] for r in rows}
    assert labels[30] == 0 and labels[0] == 0
    # unfixed behavior: ~2 entries per iteration (60+). Fixed: the live
    # iteration + a handful of not-yet-GC'd localCheckpoint blocks.
    assert _settled_storage_delta(spark, before) <= 10


def _random_graph(spark, seed: int, id_type: str = "long"):
    """A small random graph with every shape the loop's joins treat
    specially: dangling nodes, self-loops, duplicate and NULL node ids,
    NULL endpoints and endpoints outside ``nodes``."""
    rng = random.Random(seed)
    ids = [rng.randrange(20) for _ in range(rng.randint(1, 20))]
    ids += rng.sample(ids, rng.randint(0, min(3, len(ids))))  # duplicates
    ids += [None] * rng.randint(0, 2)

    def endpoint():
        r = rng.random()
        if r < 0.05:
            return None
        return rng.randrange(20, 24) if r < 0.15 else rng.randrange(20)

    pairs = [(endpoint(), endpoint()) for _ in range(rng.randint(0, 40))]
    pairs += [(v, v) for v in rng.sample(range(20), 2)]  # self-loops
    if id_type == "string":
        ids = [None if v is None else f"v{v}" for v in ids]
        pairs = [tuple(None if v is None else f"v{v}" for v in p) for p in pairs]
    nodes = spark.createDataFrame([(v,) for v in ids], f"id {id_type}")
    edges = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    return nodes, edges


def test_components_fast_path_matches_loop(spark, monkeypatch):
    """The bounded-driver union-find must return the IDENTICAL (id,
    component) rows as the distributed propagation loop — including
    isolated nodes, duplicate edges, self-loops, duplicate and NULL node
    ids, NULL endpoints and endpoints OUTSIDE ``nodes`` (which the loop
    cannot propagate through and the driver step must filter out)."""

    def rows(nodes, edges, budget=None):
        with monkeypatch.context() as m:
            if budget is not None:
                m.setattr(pregel, "DRIVER_MAX_EDGES", budget)
            return Counter(
                (r.id, r.component)
                for r in connected_components(nodes, edges).collect()
            )

    for seed in range(2):
        nodes, edges = _random_graph(
            spark, seed, "string" if seed % 2 else "long"
        )
        assert rows(nodes, edges) == rows(nodes, edges, budget=0), seed
    # an endpoint outside `nodes` must not link 3 and 7 (999 holds no
    # label in the loop); an over-budget graph takes the loop (same answer)
    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    edges = spark.createDataFrame(
        [(3, 999), (999, 7), (5, 5), (10, 11), (10, 11), (1, 2)],
        "src long, dst long",
    )
    loop = rows(nodes, edges, budget=0)
    assert loop[(7, 7)] == 1 and loop[(11, 10)] == 1
    assert rows(nodes, edges) == loop
    assert rows(nodes, edges, budget=3) == loop


def test_pagerank_driver_matches_loop_bit_for_bit(spark, monkeypatch):
    """The driver step reproduces the loop's double -> DECIMAL(38,18)
    casts, exact decimal sums and update order: every rank is the same
    double, on random graphs with every join corner case and 1-6
    supersteps."""

    def no_loop(*args, **kwargs):
        raise AssertionError("a small graph must not run the loop")

    def ranks(df):
        return Counter((r.id, float.hex(r.rank)) for r in df.collect())

    graphs = [
        (seed, *_random_graph(spark, seed, "string" if seed % 4 == 3 else "long"))
        for seed in range(20)
    ]
    graphs.append(
        (20, spark.createDataFrame([(7,)], "id long"),
         spark.createDataFrame([(7, 7), (7, 8)], "src long, dst long"))
    )
    for seed, nodes, edges in graphs:
        # every count from 1 to 6, then 1 and 2: each loop superstep costs
        # ~10 jobs, so the remaining graphs stay short
        iters = 1 + seed % 6 if seed < 6 else 1 + seed % 2
        with monkeypatch.context() as m:
            m.setattr(pagerank_module, "supersteps", no_loop)
            driver = ranks(pagerank(nodes, edges, iters=iters))
        with monkeypatch.context() as m:
            m.setattr(pregel, "DRIVER_MAX_EDGES", 0)
            loop = ranks(pagerank(nodes, edges, iters=iters))
        assert driver == loop, (seed, iters)


def test_decimal_cast_matches_jvm(spark):
    """``_dec`` is Spark's double -> DECIMAL(38,18) cast only while the
    JVM's ``Double.toString`` gives Python's shortest ``repr`` digits (not
    guaranteed before JDK 19, JDK-4511638). Compare it with the JVM's own
    cast on seeded doubles shaped like ranks and ``rank / out_deg``
    shares, and the cast back to double with ``units / 10**18``. On a
    mismatch, fix ``_dec``, not this test."""
    rng = random.Random(5)
    xs = [0.1 + 0.9 * rng.random() for _ in range(20_000)]
    xs += [rng.random() / rng.randint(1, 5000) / rng.randint(1, 60)
           for _ in range(20_000)]
    xs += [10 ** rng.uniform(-17, 0) for _ in range(10_000)]
    xs += [1.0 / k for k in range(1, 2001)]
    got = spark.createDataFrame([(x,) for x in xs], "x double").select(
        "x",
        F.col("x").cast("decimal(38,18)").alias("d"),
        F.col("x").cast("decimal(38,18)").cast("double").alias("back"),
    ).collect()
    assert len(got) == len(xs) >= 50_000
    bad = [
        r.x for r in got
        if _dec(r.x) != int(r.d.scaleb(18))
        or float.hex(_dec(r.x) / _UNITS) != float.hex(r.back)
    ]
    assert bad == [], bad[:5]


def test_graph_driver_path_job_counts(spark):
    """On a 30-node graph both algorithms run as the bounded-driver mode:
    one bounded collect of the edges and one of the node ids, whatever
    the superstep count (the loop ran 37 jobs for PageRank's 3)."""
    n = 30
    # one partition each: a bounded collect of a k-partition input takes
    # a number of jobs that depends on k (the default parallelism)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int").coalesce(1)
    edges = spark.createDataFrame(
        [(i, (i + 1) % (n - 1)) for i in range(n - 1)], "src int, dst int"
    ).coalesce(1)
    tracker = spark.sparkContext.statusTracker()

    def jobs(group, fn):
        spark.sparkContext.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return len(tracker.getJobIdsForGroup(group)), out

    n_pr, pr = jobs("driver-pagerank", lambda: pagerank(nodes, edges, iters=3))
    n_cc, cc = jobs("driver-components", lambda: connected_components(nodes, edges))
    assert (n_pr, n_cc) == (2, 2)
    assert abs(sum(r.rank for r in pr.collect()) - 1.0) < 1e-12
    assert {r.component for r in cc.collect()} == {0, n - 1}  # n-1 is isolated


@pytest.mark.slow
def test_pagerank_storage_bounded_and_converges(spark, monkeypatch):
    # a zero budget keeps this on the loop (see the components test above)
    monkeypatch.setattr(pregel, "DRIVER_MAX_EDGES", 0)
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
