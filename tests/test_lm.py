"""Corpus unigram-LM surprisal (operators/lm.py): hand-checked
log-probabilities, in-distribution vs out-of-distribution ordering, and
bit-exact partition invariance."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.lm import (
    doc_surprisal,
    unigram_logprob_table,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_logprob_table_hand_checked(spark):
    """Corpus 'a a a b': T=4, V=2, α=0.5 → p(a)=(3.5)/5, p(b)=(1.5)/5."""
    d = _docs(spark, [(1, "a a a"), (2, "b")])
    got = {r.token: r.logp for r in unigram_logprob_table(d).collect()}
    assert got == {
        "a": round(math.log(3.5 / 5.0), 6),
        "b": round(math.log(1.5 / 5.0), 6),
    }


def test_surprisal_ranks_out_of_distribution_higher(spark):
    """A document of corpus-typical tokens scores lower log_ppl than one
    made of rare tokens — the perplexity-filter ordering."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows += [(100, "the quick brown fox"), (101, "zyx wvu tsr qpo")]
    got = {r.doc_id: r.log_ppl for r in doc_surprisal(_docs(spark, rows)).collect()}
    assert got[100] < got[101]
    # ppl of the typical doc is near the corpus-average token surprisal
    assert got[100] < sum(got[i] for i in range(20)) / 20 + 0.1


def test_surprisal_partition_invariant(spark):
    rows = [(i, f"tok{i % 5} tok{i % 3} shared word") for i in range(60)]
    a = sorted(
        (r.doc_id, r.log_ppl)
        for r in doc_surprisal(_docs(spark, rows).repartition(1)).collect()
    )
    b = sorted(
        (r.doc_id, r.log_ppl)
        for r in doc_surprisal(_docs(spark, rows).repartition(13)).collect()
    )
    assert a == b  # DECIMAL accumulation + rounded logp: bit-identical


def test_zero_token_docs_absent_and_left_joinable(spark):
    d = _docs(spark, [(1, "a b"), (2, "   "), (3, "")])
    # an empty corpus scores nothing rather than dividing by a NULL mass
    assert doc_surprisal(_docs(spark, [])).count() == 0
    got = doc_surprisal(d)
    assert {r.doc_id for r in got.collect()} == {1}
    rejoined = d.join(got, "doc_id", "left").select("doc_id", "log_ppl")
    assert {r.doc_id: r.log_ppl is None for r in rejoined.collect()} == {
        1: False, 2: True, 3: True,
    }
