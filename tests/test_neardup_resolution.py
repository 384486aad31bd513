"""Near-dup cluster resolution (operators.textdedup.resolve_neardups):
pairs → connected components → exactly one surviving representative per
cluster, singletons pass through — the survivors contract of dedup_exact
and the reference's drop_duplicates-returns-rows semantics
(/root/reference/edge_data/ppi.py:142)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.textdedup import (
    minhash_lsh_pairs,
    resolve_neardups,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chain_pairs_resolve_transitively(spark):
    # pair graph is a CHAIN (1-2, 2-3): components must merge transitively
    # even though (1,3) was never emitted as a pair
    docs = _docs(spark, [(i, f"doc {i}") for i in range(1, 6)])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = resolve_neardups(docs, pairs).orderBy("doc_id").collect()
    assert [(r.doc_id, r.cluster_size) for r in out] == [
        (1, 3),  # survivor of {1,2,3}, min id, full member count
        (4, 1),
        (5, 1),
    ]


def test_k_cluster_keeps_exactly_one(spark):
    # 3 clusters of sizes 4, 3, 2 plus 2 singletons: exactly one survivor
    # per cluster, total survivors = n_clusters + n_singletons
    clusters = [[10, 11, 12, 13], [20, 21, 22], [30, 31]]
    all_ids = [i for c in clusters for i in c] + [40, 50]
    docs = _docs(spark, [(i, f"doc {i}") for i in all_ids])
    pair_rows = [
        (a, b) for c in clusters for a, b in zip(c, c[1:])
    ]  # chains again — worst case for propagation
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    out = resolve_neardups(docs, pairs).collect()
    by_id = {r.doc_id: r.cluster_size for r in out}
    assert len(out) == len(clusters) + 2
    for c in clusters:
        assert by_id[min(c)] == len(c)  # min-id representative, right size
        for other in c[1:]:
            assert other not in by_id  # non-representatives removed
    assert by_id[40] == 1 and by_id[50] == 1


def test_extra_pair_columns_ignored(spark):
    docs = _docs(spark, [(1, "a"), (2, "b"), (3, "c")])
    pairs = spark.createDataFrame(
        [(1, 2, 0.9)], "doc_a long, doc_b long, jaccard double"
    )
    out = {r.doc_id: r.cluster_size for r in resolve_neardups(docs, pairs).collect()}
    assert out == {1: 2, 3: 1}


def test_end_to_end_with_minhash_pairs(spark):
    # near-identical texts land in one LSH cluster; distinct texts survive
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base + "extra"),
        (3, base + "extra word"),
        (4, "completely different text about spark engines and parquet files"),
        (5, "yet another unrelated document mentioning nothing shared at all"),
    ]
    docs = _docs(spark, rows)
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    out = {r.doc_id: r.cluster_size for r in resolve_neardups(docs, pairs).collect()}
    assert out[1] == 3  # 1 survives for {1,2,3}
    assert 2 not in out and 3 not in out
    assert out[4] == 1 and out[5] == 1


# ---------- property: resolution matches a pure-python union-find oracle
# on random pair graphs (cluster membership, survivor choice, sizes)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ids = st.integers(0, 14)
_pair_lists = st.lists(
    st.tuples(_ids, _ids).filter(lambda t: t[0] != t[1]),
    min_size=0,
    max_size=25,
)


def _union_find_survivors(n_docs, pair_list):
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    clusters = {}
    for i in range(n_docs):
        clusters.setdefault(find(i), []).append(i)
    return {min(c): len(c) for c in clusters.values()}


@pytest.mark.slow
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(pair_list=_pair_lists)
def test_resolution_matches_union_find(spark, pair_list):
    n_docs = 15
    docs = _docs(spark, [(i, f"doc {i}") for i in range(n_docs)])
    if pair_list:
        pairs = spark.createDataFrame(pair_list, "doc_a long, doc_b long")
    else:
        pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {
        r.doc_id: r.cluster_size for r in resolve_neardups(docs, pairs).collect()
    }
    assert got == _union_find_survivors(n_docs, pair_list)


def test_spread_is_plan_side_only(spark):
    """ADVICE r03: the _spread probe must not execute upstream stages —
    df.rdd.getNumPartitions() on an AQE plan materialized every upstream
    shuffle at plan-conversion time (and those stages were not reused by
    the later action). The probe is now plan-side: shuffle-shaped plans
    and streaming frames pass through IDENTICALLY (no job, no extra
    repartition)."""
    from crossbar_data_process_spark.operators.textdedup import _spread

    sc = spark.sparkContext
    derived = (
        _docs(spark, [(i, f"doc {i}") for i in range(10)])
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    sc.setJobGroup("spread-probe", "no jobs may run here")
    try:
        out = _spread(derived)
        job_ids = spark.sparkContext.statusTracker().getJobIdsForGroup(
            "spread-probe"
        )
    finally:
        sc.setJobGroup(None, None)
    assert out is derived  # aggregate upstream: pass-through, zero rewrites
    assert list(job_ids) == []  # and the probe launched NO jobs

    # streaming frames pass through untouched (old probe raised on .rdd)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert _spread(stream) is stream


def test_simhash_pairs_exact_vs_bruteforce(spark):
    """With max_hamming < bands the banded candidate generation is EXACT
    (pigeonhole), so the operator must equal brute-force all-pairs
    popcount over the same fingerprints."""
    from crossbar_data_process_spark.operators.textdedup import (
        simhash,
        simhash_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # identical to 1
        (5, "spark engines process completely different document styles"),
    ]
    docs = _docs(spark, rows)
    sigs = {r.doc: r.simhash for r in simhash(docs).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(docs, bands=4, max_hamming=3).collect()
    }
    assert got == brute
    assert (1, 4, 0) in got  # identical docs at hamming 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, bands=3, max_hamming=3)
    with _pytest.raises(ValueError, match="divide"):
        simhash_pairs(docs, bits=32, bands=5, max_hamming=2)


def test_contamination_flags_exact_ngram_overlap(spark):
    """Decontamination screen: only docs containing a verbatim 8-gram
    from the benchmark are flagged, with exact distinct-overlap counts."""
    from crossbar_data_process_spark.operators.textdedup import (
        contamination_flags,
    )

    leak = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, f"intro text {leak} and some trailing words"),
            (2, "completely unrelated content about spark partitions"),
            (3, leak),  # exact benchmark sentence
            (4, "the quick brown fox jumps over a sleepy dog tonight"),  # near miss
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(leak,)], "text string")
    out = {
        r.doc_id: r.n_contaminated_ngrams
        for r in contamination_flags(docs, bench, n=8, min_hits=1).collect()
    }
    # leak has 10 words -> 3 distinct 8-grams, all present in docs 1 and 3
    assert out == {1: 3, 3: 3}
    # raising the threshold prunes partial overlaps
    strict = {
        r.doc_id
        for r in contamination_flags(docs, bench, n=8, min_hits=4).collect()
    }
    assert strict == set()


def test_ngram_max_doc_freq_cap_semantics(spark):
    """The stop-shingle cap (the declared q25 form): shingles in more than
    max_doc_freq docs are dropped from candidate generation AND the
    intersection count, so (a) pairs similar ONLY through ultra-common
    shingles vanish, (b) surviving pairs report a lower-bound jaccard with
    full-size |A|,|B| denominators, and (c) a cap above every df is a
    no-op (exactly how the sf0.01 oracle gate exercises it)."""
    from crossbar_data_process_spark.operators.textdedup import (
        ngram_jaccard_pairs,
    )

    common = "the quick brown fox jumps"  # shared by ALL docs -> df = 4
    docs = spark.createDataFrame(
        [
            (1, f"{common} alpha beta gamma delta"),
            (2, f"{common} alpha beta gamma epsilon"),
            (3, f"{common} zeta eta theta iota"),
            (4, f"{common} kappa mu nu xi"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.01, max_doc_freq=3
        ).collect()
    }
    # every pair shares the common prefix -> all 6 pairs exact
    assert len(exact) == 6
    # capped: prefix shingles (df=4 > 3) are dropped; only (1,2) still
    # share rare shingles ("alpha beta gamma", boundary shingles)
    assert set(capped) == {(1, 2)}
    # lower bound: capped intersection over FULL union denominators
    assert capped[(1, 2)] < exact[(1, 2)]
    # cap above max df == exact semantics, bit-for-bit
    loose = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, threshold=0.01, max_doc_freq=100
        ).collect()
    }
    assert loose == exact


# --------------------------------------------------------------- segment dedup
def _seg_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_unique_corpus_is_identity(spark):
    """With no cross-corpus duplicate segments, every doc reconstructs to its
    whitespace-normalized self (segments re-joined with single spaces)."""
    from crossbar_data_process_spark.operators.textdedup import segment_dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "k l m n o p q r"),
        (3, "s t  u"),  # double space normalizes; <k tail-only doc
    ]
    got = {
        r.doc_id: (r.clean_text, r.n_segs, r.kept_segs, r.dropped_segs)
        for r in segment_dedup(_seg_rows(spark, rows), k=4).collect()
    }
    assert got == {
        1: ("a b c d e f g h i j", 3, 3, 0),
        2: ("k l m n o p q r", 2, 2, 0),
        3: ("s t u", 1, 1, 0),
    }


def test_segment_dedup_keeps_first_occurrence_only(spark):
    """A segment shared by several docs survives only at the lowest
    (doc_id, position); later copies are cut out mid-document."""
    from crossbar_data_process_spark.operators.textdedup import segment_dedup

    dup = "x1 x2 x3 x4"
    rows = [
        (10, f"a b c d {dup}"),
        (20, f"{dup} e f g h"),          # leading copy dropped
        (30, f"p q r s {dup} t u v w"),  # middle copy dropped, tail kept
    ]
    got = {
        r.doc_id: (r.clean_text, r.dropped_segs)
        for r in segment_dedup(_seg_rows(spark, rows), k=4).collect()
    }
    assert got == {
        10: (f"a b c d {dup}", 0),
        20: ("e f g h", 1),
        30: ("p q r s t u v w", 1),
    }


def test_segment_dedup_within_doc_repeat(spark):
    """Repetition INSIDE one document dedups too (Gopher-style boilerplate):
    the first copy stays at its position, later copies vanish."""
    from crossbar_data_process_spark.operators.textdedup import segment_dedup

    rows = [(1, "m1 m2 m3 m4 m1 m2 m3 m4 z1 z2 z3 z4")]
    [r] = segment_dedup(_seg_rows(spark, rows), k=4).collect()
    assert (r.clean_text, r.n_segs, r.kept_segs, r.dropped_segs) == (
        "m1 m2 m3 m4 z1 z2 z3 z4", 3, 2, 1,
    )


def test_segment_dedup_min_doc_freq_threshold(spark):
    """min_doc_freq=3 tolerates pairs: a segment must appear >=3 times before
    later copies are dropped."""
    from crossbar_data_process_spark.operators.textdedup import segment_dedup

    dup = "x1 x2 x3 x4"
    rows = [(1, dup), (2, dup), (3, f"{dup} y1 y2"), (4, "solo a b c")]
    got = {
        r.doc_id: (r.clean_text, r.dropped_segs)
        for r in segment_dedup(_seg_rows(spark, rows), k=4, min_doc_freq=3).collect()
    }
    assert got == {
        1: (dup, 0),
        2: ("", 1),
        3: ("y1 y2", 1),
        4: ("solo a b c", 0),
    }
