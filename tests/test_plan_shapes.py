"""Physical-plan regression tests: the scale properties the engine
promises (broadcast only on dimension sides, no cartesian anywhere in the
declared set, bounded executed work) asserted from the physical plan and
the executed jobs so they can't silently regress. These are the checks
run inline during development, pinned."""

from __future__ import annotations

import re

import pytest

from crossbar_data_process_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


def test_q02_broadcasts_are_dimension_sided(spark):
    plan = _plan(spark, "q02_nation_revenue")
    # nation/region (25/5 rows) must be broadcast; the fact table must
    # never appear as a broadcast *hint* target in our code — at sf0.001
    # Spark may still auto-broadcast small facts, which AQE would demote
    # at scale, so assert the explicit hints landed rather than counting
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q65_contamination_corpus_is_never_shuffled_into_the_join(spark):
    """The benchmark shingle set must be the BROADCAST side — eval suites
    are fixed-size while the corpus is 100 TB, so a sort-merge join (both
    sides shuffled on the shingle string) is the failure mode."""
    plan = _plan(spark, "q65_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_registry_size_is_pinned():
    """The declared set is pinned at its size: a query added or retired
    moves this pin in the same change, and REGISTRY.md records it. The
    driver records CORRECTNESS rows for at most the first 50 registered
    queries (r02 silently skipped the rest), so 50 stays a ceiling (see
    the registry comment in plans/queries.py). Every oracle and every
    bench.py query names a registered query (a stale bench entry would
    otherwise only fail at run time, as a KeyError)."""
    from crossbar_data_process_spark.plans.queries import BENCH_QUERIES, ORACLES

    assert len(QUERIES) == 34, sorted(QUERIES)
    assert len(BENCH_QUERIES) == 18, BENCH_QUERIES
    assert set(ORACLES) <= set(QUERIES)
    assert set(BENCH_QUERIES) <= set(QUERIES), sorted(
        set(BENCH_QUERIES) - set(QUERIES)
    )


@pytest.mark.parametrize(
    "name",
    sorted(QUERIES),
)
def test_no_cartesian_in_any_declared_query(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    # sanctioned nested-loops, all with a broadcast bounded side:
    # - q38_pagerank: the 1-row dangling-mass frame (avoids a per-iteration
    #   driver collect);
    # - q27_cosine_topk: the brute-force baseline's contract IS corpus ×
    #   broadcast(query set) on a non-equi self-exclusion — Q is small and
    #   broadcast, the corpus streams once (the scale path is q39/IVF);
    # - q67_pq_adc_topk: same contract as q27 — the 10-row query-LUT frame
    #   is broadcast against the encoded corpus on the non-equi
    #   self-exclusion; the corpus streams once and each pair costs m
    #   lookups, not O(dim) (the candidate-PRUNED variant is
    #   ivf_pq_topk_assigned, an equi-join on the cluster partition key —
    #   pinned in tests/test_pq.py).
    # Anything else is a plan regression.
    if name not in (
        "q38_pagerank",
        "q27_cosine_topk",
        "q67_pq_adc_topk",
    ):
        assert "BroadcastNestedLoopJoin" not in plan, name


# -------- executed-work pins (VERDICT r7 #7): the checkpoint-reuse argument
# made from static plan prints (PLANS.md's exchange counts repeat the
# checkpointed subtree per consumer) is pinned here against ACTUAL executed
# jobs/stages, so a future materialize() regression that silently multiplies
# work (every consumer re-running the shared subtree) trips a bound instead
# of only showing up as a bench slowdown. Bounds are measured-at-sf0.001
# (q53: 27 jobs/65 stages, q63: 16/30) with ~1.5x headroom —
# a reuse regression at least doubles the shared-subtree stages.
def _executed_jobs_stages(spark, name: str) -> tuple[int, int]:
    # folded-out queries (q53, r15) keep their executed-work pin: the
    # function survives in plans.queries un-registered, so fall back to
    # the module attribute when the name left the 50-slot registry
    import crossbar_data_process_spark.plans.queries as _q

    fn = QUERIES.get(name) or getattr(_q, name)
    sc = spark.sparkContext
    group = f"workpin-{name}"
    sc.setJobGroup(group, name)
    try:
        fn(spark, "/root/testdata/sf0.001").count()
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = sum(
        len(tracker.getJobInfo(j).stageIds)
        for j in job_ids
        if tracker.getJobInfo(j)
    )
    return len(job_ids), stages


@pytest.mark.parametrize(
    "name,max_jobs,max_stages",
    [
        ("q53_neardup_resolve", 40, 100),
        ("q63_incremental_dedup", 25, 45),
    ],
)
def test_checkpoint_reuse_bounds_executed_work(spark, name, max_jobs, max_stages):
    jobs, stages = _executed_jobs_stages(spark, name)
    assert jobs <= max_jobs, (name, jobs, stages)
    assert stages <= max_stages, (name, jobs, stages)


# -------- workload pinning at registration (VERDICT r7 #8): a benchmark
# whose query/probe set derives from a corpus column measures WORKLOAD
# growth, not engine scaling, the moment the corpus grows (the lesson of
# the since-retired BM25 row: doc_id % 97 alone let the sf1 probe's 10x
# corpus bring 10x queries and measured slope 45). Every declared query
# that builds a query/probe workload from a corpus column must carry an
# explicit CONSTANT bound in its source; new workload-deriving
# registrations must be added here (REGISTRY.md "declared-form decisions"
# documents the rule).
_WORKLOAD_BOUNDS = {
    # the benchmark/eval set is a workload in the same sense: it must stay
    # fixed-size as the corpus grows or scale probes measure eval growth
    "q65_contamination": r'F\.col\("doc_id"\)\s*<\s*5000',
    # r14: q27_cosine_topk folded out (REGISTRY.md) — its bound lives on
    # in the property test; q54 carries the same 10-query carve
    "q54_ivf_topk": r'F\.col\("vec_id"\)\s*<\s*10',
    # r11: q39_ann_lsh folded out of the registry (REGISTRY.md) — its bound
    # lives on in the property test; q67 carries the same 10-query carve
    "q67_pq_adc_topk": r'F\.col\("vec_id"\)\s*<\s*10',
    # r12: the IVF-PQ silver path carries q67's 10-query carve
    "q69_ivfpq_silver": r'F\.col\("vec_id"\)\s*<\s*10',
}


@pytest.mark.parametrize("name", sorted(_WORKLOAD_BOUNDS))
def test_workload_deriving_queries_pin_a_constant_bound(name):
    import inspect
    import re

    src = inspect.getsource(QUERIES[name])
    assert re.search(_WORKLOAD_BOUNDS[name], src), (
        f"{name} derives its workload from a corpus column but its source "
        "no longer carries the declared constant bound — re-pin it or "
        "update _WORKLOAD_BOUNDS with the new declared form"
    )


def _builds_query_workload(src: str) -> bool:
    """True when a registered query's SOURCE builds a query/probe workload
    frame from the corpus. Two detectors (r8 VERDICT #5 — the alias-only
    sweep let a `qid`-named frame escape):

    1. alias family: any alias whose name is a query/probe identifier —
       q(uery)?/probe + optional _?(id|text|key), e.g. query_id, qid,
       qtext, probe_id, probes;
    2. semantic: the source both FILTERS a corpus id column (the workload-
       carving idiom ``F.col("<x>_id") <op> ...``) and calls an ANN
       operator that takes a query frame (cosine_topk*, ivf_topk*,
       pq_adc_topk, pq_query_lut, ivf_pq_topk*) — regardless of what the
       frame is named.
    """
    import re

    alias_pat = re.compile(
        r'alias\(\s*"(?:q|query|probe)(?:_?(?:id|text|key|s))?"\s*\)',
        re.IGNORECASE,
    )
    if alias_pat.search(src):
        return True
    carves_ids = re.search(r'F\.col\(\s*"\w*_?id"\s*\)\s*[<>%=!]', src)
    takes_query_frame = re.search(
        r"\b(cosine_topk\w*|ivf_topk\w*|pq_adc_topk|pq_query_lut"
        r"|ivf_pq_topk\w*)\s*\(",
        src,
    )
    return bool(carves_ids and takes_query_frame)


def test_workload_rule_covers_known_deriving_queries():
    """Sweep: any registered query whose source builds a query/probe
    workload frame from a corpus column must be in _WORKLOAD_BOUNDS.
    Catches a new ANN/retrieval registration that forgot to pin its
    workload (the slope-45 lesson above)."""
    import inspect

    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if _builds_query_workload(src):
            assert name in _WORKLOAD_BOUNDS, (
                f"{name} builds a query workload from a corpus column — "
                "pin a constant bound and register it in _WORKLOAD_BOUNDS"
            )


def test_workload_sweep_flags_disguised_aliases():
    """The sweep must flag workload frames regardless of alias spelling
    (r8 VERDICT #5: a frame aliased `qid` escaped the old regex) and
    catch the alias-free semantic shape too — while NOT flagging plain
    aggregation queries."""
    flagged = '''
def q99_sneaky(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    probes = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"), F.col("text").alias("qtext"))
    return cosine_topk(d, probes)
'''
    assert _builds_query_workload(flagged)

    alias_free = '''
def q98_anon(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    w = e.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_lsh(e, w, k=5)
'''
    assert _builds_query_workload(alias_free)

    benign = '''
def q01_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 100).groupBy(
        "l_returnflag").agg(F.sum("l_quantity").alias("sum_qty"))
'''
    assert not _builds_query_workload(benign)


# -------- side-product gauge pins (r16, VERDICT r15 #6): the r15 win —
# cap stats as side-products of the pass (a scale-1000 corpus build, 2,437 →
# 1,269 s; the old standalone gauges re-ran corpus-sized pipelines to
# report on them) — is equality-pinned for VALUES elsewhere, but nothing
# pinned the COST. Job/stage counts CANNOT pin it: measured at sf0.001,
# the retired re-run form counts the same stages as the side-product
# form (sd 16 jobs/28 stages either way) because a corpus re-pass is
# still "one aggregate" in stage terms — its price is BYTES RE-READ, not
# stage count. So the pin counts corpus SCANS
# directly: the input column rides an accumulator-bumping UDF (a row
# UDF is the right instrument here precisely BECAUSE it is the slow
# path — it cannot be optimized away, and this is a test, not engine
# code), and the gauge must add ZERO increments — a reintroduced re-run
# gauge re-reads the corpus and fails the equality.
def _scan_counted(spark, df, col):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    acc = spark.sparkContext.accumulator(0)
    dtype = df.schema[col].dataType

    def bump(v):
        acc.add(1)
        return v

    return df.withColumn(col, udf(bump, dtype)(F.col(col))), acc


def test_semantic_dedup_cap_gauge_adds_no_corpus_pass(spark):
    from pyspark.sql import functions as F

    from crossbar_data_process_spark.operators.ivf import ivf_fit
    from crossbar_data_process_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = emb.select(F.size("embedding")).first()[0]
    cents = ivf_fit(emb, dim=dim, nlist=8, iters=1, driver_fit_rows=512)
    counted, acc = _scan_counted(spark, emb, "embedding")

    def run(sink):
        acc.value = 0
        semantic_dedup(
            counted, cents, threshold=0.99, cap_stats_sink=sink
        ).count()
        return acc.value

    scans_plain = run(None)
    sink: dict = {}
    scans_gauged = run(sink)
    assert sink["max_cluster"] > 0  # the gauge actually filled
    assert scans_plain > 0
    # the sink reads ONLY the already-checkpointed assignment — zero
    # extra vector reads; a re-run gauge re-assigns the corpus (+n rows)
    assert scans_gauged == scans_plain, (scans_plain, scans_gauged)


def test_ppi_sources_are_read_once(spark):
    """IntAct and BioGRID each read their source once: the per-directed-pair
    reduction (pubmed union plus keep-best) is one window pass, so it adds
    one exchange on the pair and joins nothing back on it. Each source is a
    ``Range`` of its own length, so counting its leaves counts its scans."""
    from pyspark.sql import functions as F

    from crossbar_data_process_spark.plans.ppi import (
        biogrid_process,
        intact_process,
    )

    n = F.col("id")

    def prot(e):
        return F.concat(F.lit("P"), e.cast("string"))

    swissprot = spark.range(6).select(prot(n).alias("uniprot"))
    intact = spark.range(200).select(
        prot(n % 7).alias("uniprot_a"),
        prot(n % 5).alias("uniprot_b"),
        F.concat_ws(";", n.cast("string"), (n + 1).cast("string")).alias("pubmed_id"),
        ((n % 3) / 10).alias("intact_score"),
        F.lit("y2h").alias("method"),
        F.lit("direct").alias("interaction_type"),
    )
    biogrid = spark.range(300).select(
        prot(n % 7).alias("partner_a"),
        prot(n % 5).alias("partner_b"),
        F.lit("9606").alias("tax_a"),
        F.lit("9606").alias("tax_b"),
        n.cast("string").alias("pmid"),
        F.lit("Two-hybrid").alias("experimental_system"),
    )
    symbol_map = spark.range(7).select(
        prot(n).alias("symbol"), F.lit("9606").alias("tax"), prot(n).alias("uniprot")
    )
    for rows, df in (
        (200, intact_process(intact, swissprot)),
        (300, biogrid_process(biogrid, symbol_map, swissprot)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count(f"Range (0, {rows},") == 1, plan
        pair_exchanges = re.findall(r"Exchange hashpartitioning\(uniprot_a#", plan)
        assert len(pair_exchanges) == 1, plan
        assert not re.search(r"Join \[uniprot_a#\d+, uniprot_b#", plan), plan
