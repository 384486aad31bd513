"""Property-based tests (SURVEY §5 item 3) for the algebraic operators:
- symmetric dedup is idempotent and orientation-invariant (A4)
- ordered provenance union: first-occurrence semantics, matches
  dict.fromkeys exactly (X4)
- keep_best equals argmax under row permutation (A2)
- conflict ladders match their reference python transliterations (X5/X6)
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.dedup import dedup_undirected, keep_best

ids = st.sampled_from(["a", "b", "c", "d", "e"])
pairs = st.lists(
    st.tuples(ids, ids, st.integers(0, 5)), min_size=1, max_size=20
)

HS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


def _spark():
    # session fixture injected via conftest-level reuse; hypothesis wraps the
    # test body so we grab the active session directly
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession()


@given(rows=pairs)
@HS
def test_dedup_undirected_orientation_invariant(spark, rows):
    df_rows = [Row(a=a, b=b, score=float(s)) for a, b, s in rows]
    flipped = [Row(a=r.b, b=r.a, score=r.score) for r in df_rows]
    s = _spark()
    order = [F.desc("score"), F.asc("a"), F.asc("b")]
    out1 = {
        (min(r.a, r.b), max(r.a, r.b), r.score)
        for r in dedup_undirected(
            s.createDataFrame(df_rows), "a", "b", order_by=order
        ).collect()
    }
    out2 = {
        (min(r.a, r.b), max(r.a, r.b), r.score)
        for r in dedup_undirected(
            s.createDataFrame(flipped), "a", "b", order_by=order
        ).collect()
    }
    assert out1 == out2
    # idempotence: applying again changes nothing
    once = dedup_undirected(s.createDataFrame(df_rows), "a", "b", order_by=order)
    twice = dedup_undirected(once, "a", "b", order_by=order)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(rows=pairs)
@HS
def test_keep_best_is_argmax_under_permutation(spark, rows):
    s = _spark()
    df_rows = [Row(k=a, v=b, score=float(sc)) for a, b, sc in rows]
    shuffled = df_rows[:]
    random.Random(7).shuffle(shuffled)
    order = [F.desc("score"), F.asc("v")]
    r1 = sorted(map(tuple, keep_best(s.createDataFrame(df_rows), ["k"], order).collect()))
    r2 = sorted(map(tuple, keep_best(s.createDataFrame(shuffled), ["k"], order).collect()))
    assert r1 == r2
    # python argmax oracle
    best = {}
    for r in df_rows:
        cur = best.get(r.k)
        if cur is None or (-r.score, r.v) < (-cur.score, cur.v):
            best[r.k] = r
    assert r1 == sorted((r.k, r.v, r.score) for r in best.values())


@given(
    xs=st.lists(st.sampled_from(["p", "q", "r", "s"]), max_size=6),
    ys=st.lists(st.sampled_from(["p", "q", "r", "s"]), max_size=6),
)
@HS
def test_ordered_union_matches_dict_fromkeys(spark, xs, ys):
    from crossbar_data_process_spark.operators.aggregates import ordered_union

    s = _spark()
    df = s.createDataFrame(
        [Row(x=xs, y=ys)], schema="x array<string>, y array<string>"
    )
    out = df.select(ordered_union(F.col("x"), F.col("y")).alias("u")).collect()[0].u
    expected = list(dict.fromkeys([*xs, *ys]))
    assert out == expected


@given(
    effects=st.lists(
        st.sampled_from(["Activation", "Repression", "Unknown"]),
        min_size=1, max_size=6,
    )
)
@HS
def test_tf_effect_resolve_matches_reference_ladder(spark, effects):
    from crossbar_data_process_spark.operators.aggregates import tf_effect_resolve

    s = _spark()
    df = s.createDataFrame([Row(k=1, eff=e) for e in effects])
    out = df.groupBy("k").agg(tf_effect_resolve("eff").alias("r")).collect()[0].r

    # reference transliteration (tf_gen.py:381-395)
    ss = set(effects)
    if len(ss) > 2:
        expected = None
    elif len(ss) == 1:
        expected = ss.pop()
    elif "Unknown" in ss:
        expected = (ss - {"Unknown"}).pop()
    else:
        expected = None
    assert out == expected


def test_rollup_matches_union_of_groupings(spark):
    """rollup() (the former q44 registry row, folded out in r07 for the
    two-table as-of join — REGISTRY.md): ROLLUP(a, b) must equal the union
    of the (a,b), (a), and () groupings, with NULL filling rolled-up keys."""
    s = _spark()
    df = s.createDataFrame(
        [("r1", "n1", 1.0), ("r1", "n2", 2.0), ("r2", "n3", 4.0)],
        "r string, n string, bal double",
    )
    got = {
        (x.r, x.n): (x.cnt, x.total)
        for x in df.rollup("r", "n")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("bal").alias("total"))
        .collect()
    }
    assert got == {
        ("r1", "n1"): (1, 1.0), ("r1", "n2"): (1, 2.0), ("r2", "n3"): (1, 4.0),
        ("r1", None): (2, 3.0), ("r2", None): (1, 4.0),
        (None, None): (3, 7.0),
    }


def test_degree_matches_distinct_edge_count(spark):
    """Graph degree (the former q30 registry row, folded out in r07 for
    q59_segment_dedup — REGISTRY.md): the groupBy+countDistinct degree must
    equal the exact per-node distinct-neighbor set size, multi-edges
    collapsed. The former DuckDB oracle lives on here as the expectation."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q30_supplier_degree

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {r.supplier: r.degree for r in q30_supplier_degree(s, sf).collect()}
    want = dict(
        duckdb.sql(
            f"SELECT l_suppkey, COUNT(DISTINCT l_partkey) FROM "
            f"read_parquet('{sf}/lineitem.parquet') GROUP BY l_suppkey"
        ).fetchall()
    )
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12),
        min_size=1,
        max_size=10,
    )
)
def test_segment_dedup_matches_reference(spark, docs_tokens):
    """segment_dedup == a transparent Python reference on random corpora
    over a tiny alphabet (max collision pressure): same survivors, same
    first-occurrence choice, same counts."""
    from crossbar_data_process_spark.operators.textdedup import segment_dedup

    k, min_df = 3, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]

    segs = []  # (doc_id, seg_idx, seg)
    for did, toks in enumerate(docs_tokens):
        for j in range(0, (len(toks) + k - 1) // k):
            segs.append((did, j, " ".join(toks[j * k : j * k + k])))
    from collections import Counter

    df_counts = Counter(sg for _, _, sg in segs)
    first = {}
    for did, j, sg in sorted(segs):
        first.setdefault(sg, (did, j))
    want = {}
    for did, toks in enumerate(docs_tokens):
        mine = [(j, sg) for d, j, sg in segs if d == did]
        kept = [
            sg
            for j, sg in mine
            if df_counts[sg] < min_df or first[sg] == (did, j)
        ]
        if mine:
            want[did] = (" ".join(kept), len(mine), len(kept), len(mine) - len(kept))

    s = _spark()
    got = {
        r.doc_id: (r.clean_text, r.n_segs, r.kept_segs, r.dropped_segs)
        for r in segment_dedup(
            s.createDataFrame(rows, "doc_id long, text string"), k=k, min_doc_freq=min_df
        ).collect()
    }
    assert got == want


def test_repetition_signals(spark):
    """Gopher-style repetition ratios (r07): duplicate lines and duplicate
    non-distinct n-grams, crafted cases with hand-computed expectations."""
    from crossbar_data_process_spark.functions.text import (
        duplicate_line_ratio,
        duplicate_ngram_ratio,
    )

    rows = [
        # 4 non-blank lines, 'menu' twice -> 1 dup / 4
        (1, "menu\nhome\n\nmenu\nabout"),
        # 'a b c' x2: grams of 'a b c a b c' = [abc, bca, cab, abc] -> 1/4
        (2, "a b c a b c"),
        (3, "x y"),          # shorter than n=3 -> 0.0
        (4, ""),             # empty -> 0.0
        (5, "all distinct words here now"),  # no repeats -> 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.dl, r.dg)
        for r in df.select(
            "doc_id",
            duplicate_line_ratio("text").alias("dl"),
            duplicate_ngram_ratio("text", n=3).alias("dg"),
        ).collect()
    }
    assert got[1][0] == 0.25
    assert got[2][1] == 0.25
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)
    assert got[5] == (0.0, 0.0)


def test_explode_tokens_matches_oracle(spark):
    """Explode + token aggregation (the former q14 registry row, folded out
    in r08 for q62_snapshot_diff — REGISTRY.md): the former DuckDB oracle
    lives on here as the expectation. F10/X9 stay registry-oracled via the
    q59/q25/q26 shingle chains."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q14_explode_tokens

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.tok, r.n, r.n_parts) for r in q14_explode_tokens(s, sf).collect()
    }
    want = set(
        duckdb.sql(
            f"""
            SELECT tok, COUNT(*), COUNT(DISTINCT p_partkey)
            FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS tok
                  FROM read_parquet('{sf}/part.parquet'))
            WHERE tok <> '' GROUP BY tok
            """
        ).fetchall()
    )
    assert got == want


def test_json_extract_matches_oracle(spark):
    """Grouped JSON extraction (the former q33 registry row, folded out in
    r08 for q63_incremental_dedup — REGISTRY.md): the former DuckDB oracle
    lives on here; the get_json_object chain itself stays registry-oracled
    as q34's k_bucket column."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q33_json_extract

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.event_type, r.k_bucket, r.n, round(r.sum_value, 6))
        for r in q33_json_extract(s, sf).collect()
    }
    want = {
        (et, kb, n, round(sv, 6))
        for et, kb, n, sv in duckdb.sql(
            f"""
            SELECT event_type, json_extract(props, '$.k')::BIGINT % 10,
                   COUNT(*),
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
            FROM read_parquet('{sf}/events.parquet')
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want


def test_min_cost_supplier_matches_oracle(spark):
    """keep_best over a join (the former q42 registry row, folded out in
    r07 — REGISTRY.md): the former DuckDB oracle lives on here as the
    expectation."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q42_min_cost_supplier

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.l_partkey, r.s_suppkey, float(r.s_acctbal))
        for r in q42_min_cost_supplier(s, sf).collect()
    }
    want = {
        (a, b, float(c))
        for a, b, c in duckdb.sql(
            f"""
            SELECT l_partkey, s_suppkey, s_acctbal FROM (
              SELECT DISTINCT l_partkey, l_suppkey
              FROM read_parquet('{sf}/lineitem.parquet')) ps
            JOIN read_parquet('{sf}/supplier.parquet')
              ON ps.l_suppkey = s_suppkey
            QUALIFY row_number() OVER (PARTITION BY l_partkey
                                       ORDER BY s_acctbal, s_suppkey) = 1
            """
        ).fetchall()
    }
    assert got == want


def test_asof_single_table_matches_oracle(spark):
    """Single-table as-of (the former q48 registry row, folded out in r09
    for q64, since retired — REGISTRY.md): the former DuckDB oracle
    lives on here. The as-of FAMILY stays registry-oracled via
    q57_asof_two_table's native ASOF LEFT JOIN oracle."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q48_asof_join

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.event_id, r.user_id, r.purchase_ts, r.last_error_ts)
        for r in q48_asof_join(s, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = set(
        con.execute(
            """
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
                   strftime(last_error_ts, '%Y-%m-%d %H:%M:%S') AS last_error_ts
            FROM (
              SELECT event_id, user_id, ts, event_type,
                     last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_error_ts
              FROM events)
            WHERE event_type = 'purchase'
            """
        ).fetchall()
    )
    assert got == want


def test_keep_best_matches_oracle(spark):
    """keep-best-per-group (the former q04 registry row, folded out in r10
    for q65_contamination — REGISTRY.md): the former DuckDB oracle lives
    on here. A2/W1/O1 stay registry-oracled via q18_topk_per_group's
    identical row_number window (keep-best ≡ top-k at k=1)."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q04_keep_best_order

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.o_custkey, r.o_orderkey, float(r.o_totalprice))
        for r in q04_keep_best_order(s, sf).collect()
    }
    want = {
        (a, b, float(c))
        for a, b, c in duckdb.sql(
            f"""
            SELECT o_custkey, o_orderkey, o_totalprice
            FROM read_parquet('{sf}/orders.parquet')
            QUALIFY row_number() OVER (
              PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) = 1
            """
        ).fetchall()
    }
    assert got == want


def test_collect_ordered_matches_oracle(spark):
    """Group + ordered collect (the former q35 registry row, folded out in
    r10 — REGISTRY.md): the former DuckDB oracle lives on here. A5
    group+collect stays registry-oracled via q09_provenance_union's
    collect_set pipe-union aggregation."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import q35_collect_ordered

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.o_custkey, r.orderkeys, r.n)
        for r in q35_collect_ordered(s, sf).collect()
    }
    want = set(
        duckdb.sql(
            f"""
            SELECT o_custkey,
                   array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
                     AS orderkeys,
                   COUNT(*) AS n
            FROM read_parquet('{sf}/orders.parquet')
            GROUP BY o_custkey
            """
        ).fetchall()
    )
    assert got == want


def test_ann_lsh_matches_oracle(spark):
    """LSH-bucketed cosine top-k (the former q39 registry row, folded out
    in r11 for q67_pq_adc_topk — REGISTRY.md): the former DuckDB oracle
    lives on here verbatim (_ann_lsh_oracle). The LSH family stays
    registry-oracled via q49_embedding_neardup_lsh (identical
    _lsh_bucket_sql signature over the same plane series); the cosine
    ranking window via q27/q54."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        _ann_lsh_oracle,
        q39_ann_lsh,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in q39_ann_lsh(s, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    want = set(map(tuple, con.sql(_ann_lsh_oracle()).fetchall()))
    assert got == want


def test_connected_components_matches_oracle(spark):
    """Connected components over region-cliques (the former q31 registry
    row, folded out in r11 — REGISTRY.md): the former DuckDB oracle lives
    on here verbatim. The iterative min-label component family is also
    checked by the recursive component walk of the q53 oracle, pinned
    below in test_neardup_resolve_matches_oracle (folded out r15), and
    by kgbench's graph invariants."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        q31_connected_components,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.node, r.component) for r in q31_connected_components(s, sf).collect()
    }
    want = set(
        duckdb.sql(
            f"""
            SELECT CAST(n_nationkey AS BIGINT) AS node,
                   CAST(MIN(n_nationkey) OVER (PARTITION BY n_regionkey)
                        AS BIGINT) AS component
            FROM read_parquet('{sf}/nation.parquet')
            """
        ).fetchall()
    )
    assert got == want


def test_suffix_groups_matches_oracle(spark):
    """Derived-key grouping (the former q32 registry row, folded out in
    r12 for q69_ivfpq_silver — REGISTRY.md): the former DuckDB oracle
    lives on here verbatim (_SUFFIX_GROUPS_ORACLE). The split/element_at
    family stays registry-oracled via q09/q15; the groupBy-count family
    via q29."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        _SUFFIX_GROUPS_ORACLE,
        q32_suffix_groups,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.suffix, r.n_parts, r.n_pairs)
        for r in q32_suffix_groups(s, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf}/part.parquet')"
    )
    want = set(map(tuple, con.sql(_SUFFIX_GROUPS_ORACLE).fetchall()))
    assert got == want and len(got) > 0


def test_pair_normalize_matches_oracle(spark):
    """Self-pair drop + plain dedup + first-xref (the former q47 registry
    row, folded out in r12 — REGISTRY.md): the former DuckDB oracle lives
    on here verbatim (_PAIR_NORMALIZE_ORACLE). P8 stays registry-oracled
    via the <>-join predicates of q27/q54/q67/q69 and the strict a<b pair
    conditions of q25/q26/q49; A3 via q21; F2's split rides q09's
    split family."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        _PAIR_NORMALIZE_ORACLE,
        q47_pair_normalize,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.a, r.b, r.first_flag)
        for r in q47_pair_normalize(s, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf}/lineitem.parquet')"
    )
    want = set(map(tuple, con.sql(_PAIR_NORMALIZE_ORACLE).fetchall()))
    assert got == want and len(got) > 0


def test_cosine_topk_matches_oracle(spark):
    """Brute-force cosine top-k (the former q27 registry row, folded out
    in r14 — REGISTRY.md): the oracle lives on here verbatim
    (_COSINE_TOPK_ORACLE) AND stays registry-shared by q54, whose
    nprobe == nlist probe is brute-force-identical."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        _COSINE_TOPK_ORACLE,
        q27_cosine_topk,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.rnk)
        for r in q27_cosine_topk(s, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    want = set(map(tuple, con.sql(_COSINE_TOPK_ORACLE).fetchall()))
    assert got == want and len(got) > 0


def test_neardup_resolve_matches_oracle(spark):
    """Near-dup resolution (the former q53 registry row, folded out in
    r15 — REGISTRY.md): the recursive min-label component oracle lives
    on here verbatim (_neardup_resolve_oracle). With q64 retired, this
    test and test_connected_components_matches_oracle are where the walk
    is checked."""
    import duckdb

    from crossbar_data_process_spark.plans.queries import (
        _neardup_resolve_oracle,
        q53_neardup_resolve,
    )

    sf = "/root/testdata/sf0.001"
    s = _spark()
    got = {
        (r.doc_id, r.cluster_size)
        for r in q53_neardup_resolve(s, sf).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = set(map(tuple, con.sql(_neardup_resolve_oracle()).fetchall()))
    assert got == want and len(got) > 0
