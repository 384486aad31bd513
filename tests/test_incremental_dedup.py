"""Incremental dedup (dedup_index + flag_against_index): a new ingest
batch is checked against the persisted corpus index — exact dups by
fingerprint anti-join, near-dups by LSH bucket probe + exact-Jaccard
verify — without ever re-deduping the corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.textdedup import (
    dedup_index,
    flag_against_index,
    minhash_lsh_pairs,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "machine learning systems process large corpora of text data every day"),
    (3, "completely unrelated content about cooking pasta with fresh tomatoes"),
]


def test_flags_exact_near_and_novel(spark):
    corpus = _df(spark, CORPUS)
    idx = dedup_index(corpus)
    new = _df(
        spark,
        [
            (10, CORPUS[0][1]),  # exact copy of doc 1
            (11, CORPUS[1][1].replace("every day", "each morning")),  # near-dup of 2
            (12, "entirely novel text about astronomy telescopes and distant galaxies"),
        ],
    )
    flags = {r.doc_id: r for r in flag_against_index(new, idx, threshold=0.4).collect()}
    assert set(flags) == {10, 11}
    assert (flags[10].dup_kind, flags[10].matched_doc, flags[10].jaccard) == (
        "exact", 1, None,
    )
    assert (flags[11].dup_kind, flags[11].matched_doc) == ("near", 2)
    assert 0.4 <= flags[11].jaccard < 1.0

    survivors = new.join(
        flag_against_index(new, idx, threshold=0.4).select("doc_id"),
        "doc_id",
        "left_anti",
    )
    assert {r.doc_id for r in survivors.collect()} == {12}


def test_incremental_matches_full_corpus_run(spark):
    """Cross-pairs found incrementally == the (corpus x new) pairs a full
    minhash_lsh_pairs run over corpus+new finds, at the same threshold."""
    corpus = _df(spark, CORPUS)
    new = _df(
        spark,
        [
            (11, CORPUS[1][1].replace("every day", "each morning")),
            (12, "entirely novel text about astronomy telescopes and distant galaxies"),
            (13, CORPUS[2][1].replace("fresh", "ripe")),
        ],
    )
    idx = dedup_index(corpus)
    inc = {
        (r.matched_doc, r.doc_id, r.jaccard)
        for r in flag_against_index(new, idx, threshold=0.3).collect()
        if r.dup_kind == "near"
    }
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(
            corpus.unionByName(new), threshold=0.3
        ).collect()
        if r.doc_a <= 3 and r.doc_b >= 11  # cross pairs only
    }
    # the same pairs, with the same jaccard, whichever of them the shared
    # band layout surfaces (the (3,13) perturbation sits at j=0.5 where a
    # 2-row/6-band collision is probabilistic — both paths must agree on
    # whatever the deterministic permutations yield)
    assert inc == full
    assert (2, 11, 0.636364) in inc


def test_extending_index_catches_repeat_batch(spark):
    """Append the survivors' index delta; re-sending the same batch is then
    flagged 100% (exact) — the idempotent-ingest property."""
    corpus = _df(spark, CORPUS)
    idx = dedup_index(corpus)
    new = _df(spark, [(12, "entirely novel text about astronomy telescopes and distant galaxies")])
    assert flag_against_index(new, idx).count() == 0

    delta = dedup_index(new)
    extended = {k: idx[k].unionByName(delta[k]) for k in idx}
    again = flag_against_index(new.withColumn("doc_id", F.col("doc_id") + 100), extended)
    [r] = again.collect()
    assert (r.doc_id, r.dup_kind, r.matched_doc) == (112, "exact", 12)


def test_batch_sized_work_only(spark):
    """The fp check never shingles exact dups: an all-exact batch produces
    flags whose jaccard column is entirely NULL (shingle path untouched)."""
    corpus = _df(spark, CORPUS)
    idx = dedup_index(corpus)
    new = _df(spark, [(20 + i, t) for i, (_, t) in enumerate(CORPUS)])
    flags = flag_against_index(new, idx).collect()
    assert len(flags) == 3
    assert all(r.dup_kind == "exact" and r.jaccard is None for r in flags)
