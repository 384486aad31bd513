"""SemDeDup-style semantic dedup (operators/similarity.neighbor_pairs_ivf
+ semantic_dedup): k-means-bucketed embedding near-dup pairs resolved to
survivors. Recall measured against brute-force threshold pairs on a
clustered corpus with planted near-dups."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.ivf import ivf_fit
from crossbar_data_process_spark.operators.similarity import (
    cosine,
    neighbor_pairs_ivf,
    semantic_dedup,
)

DIM = 16


@pytest.fixture(scope="module")
def corpus(spark):
    """6 well-separated centers x 60 vectors; every 10th vector is a
    NEAR-DUP of its predecessor (tiny noise => cosine ~0.99+, same
    cluster by construction)."""
    rng = np.random.default_rng(31)
    centers = rng.normal(size=(6, DIM)) * 5.0
    rows = []
    vid = 0
    for c in centers:
        base = None
        for i in range(60):
            if i % 10 == 9 and base is not None:
                v = base + rng.normal(size=DIM) * 0.01
            else:
                v = c + rng.normal(size=DIM) * 0.8
                base = v
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def cents(corpus):
    return ivf_fit(corpus, dim=DIM, nlist=6, iters=3, driver_fit_rows=360)


def _brute_pairs(spark, corpus, threshold):
    a = corpus.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va")
    )
    b = corpus.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb")
    )
    return {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .collect()
    }


@pytest.mark.slow
def test_pairs_recall_planted_neardups(spark, corpus, cents):
    """Every planted near-dup pair sits inside one cluster, so the
    IVF-bucketed pairs must recover >= 95% of the brute-force pair set at
    a plants-only threshold (0.999: plants are 0.01-noise copies, natural
    cluster co-members sit ~0.98-0.99; the only misses allowed are borderline vectors
    quantized apart — the documented cross-cluster trade)."""
    want = _brute_pairs(spark, corpus, 0.999)
    assert len(want) >= 30  # the plant really exists
    got = {
        (r.vec_a, r.vec_b)
        for r in neighbor_pairs_ivf(corpus, cents, threshold=0.999).collect()
    }
    assert got <= want  # bucketing can only lose pairs, never invent them
    assert len(got) >= 0.95 * len(want)


def test_survivors_contract(spark, corpus, cents):
    """Same contract as resolve_neardups: whole-corpus coverage, min-id
    representatives, cluster sizes sum to the corpus."""
    out = semantic_dedup(corpus, cents, threshold=0.999).collect()
    ids = {r.vec_id for r in out}
    assert sum(r.cluster_size for r in out) == corpus.count()
    assert len(out) < corpus.count()  # something was deduped
    pairs = {
        (r.vec_a, r.vec_b)
        for r in neighbor_pairs_ivf(corpus, cents, threshold=0.999).collect()
    }
    # a surviving representative is never the larger id of a pair whose
    # smaller id also survives transitively: spot-check min-id semantics
    for a, b in pairs:
        assert not (b in ids and a not in ids), (
            f"pair ({a},{b}): larger id survived while smaller was dropped"
        )


def test_max_cluster_size_excludes_megacluster(spark, corpus, cents):
    """A cap of 1 excludes every cluster from
    pair generation — zero pairs, all vectors survive (the skew lever
    drops quadratic work instead of running it)."""
    capped = neighbor_pairs_ivf(
        corpus, cents, threshold=0.999, max_cluster_size=1
    )
    assert capped.count() == 0
    out = semantic_dedup(
        corpus, cents, threshold=0.999, max_cluster_size=1
    ).collect()
    assert len(out) == corpus.count()
    assert all(r.cluster_size == 1 for r in out)


def test_partition_invariance(spark, corpus, cents):
    one = {
        (r.vec_id, r.cluster_size)
        for r in semantic_dedup(
            corpus.repartition(1), cents, threshold=0.999
        ).collect()
    }
    many = {
        (r.vec_id, r.cluster_size)
        for r in semantic_dedup(
            corpus.repartition(13), cents, threshold=0.999
        ).collect()
    }
    assert one == many


def test_zero_vector_does_not_abort_ansi(spark, cents):
    """ANSI mode: a zero-norm embedding must yield NULL cosine (paired
    with nothing), never DIVIDE_BY_ZERO, which aborts the whole job
    (r10 review)."""
    rows = [
        (1, [1.0] * DIM),
        (2, [1.0] * DIM),          # near-dup of 1
        (3, [0.0] * DIM),          # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = neighbor_pairs_ivf(df, cents, threshold=0.9).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(1, 2)}
    out = {r.vec_id for r in semantic_dedup(df, cents, threshold=0.9).collect()}
    assert out == {1, 3}  # 2 deduped; the zero vector survives untouched


def test_sharded_pairs_byte_identical(spark, corpus, cents):
    """VERDICT r12 #2: sub-sharding hot clusters changes the TASK shape
    (s×s grid cells instead of one cluster-keyed task), never the pair
    set — byte-identical pairs at any shard_target, including one that
    shards every cluster."""
    want = sorted(
        (r.vec_a, r.vec_b, r.cosine)
        for r in neighbor_pairs_ivf(
            corpus, cents, threshold=0.999, shard_target=None
        ).collect()
    )
    for target in (7, 50):
        got = sorted(
            (r.vec_a, r.vec_b, r.cosine)
            for r in neighbor_pairs_ivf(
                corpus, cents, threshold=0.999, shard_target=target
            ).collect()
        )
        assert got == want, f"shard_target={target}"


def test_sharded_semantic_dedup_survivors_identical(spark, corpus, cents):
    base = {
        (r.vec_id, r.cluster_size)
        for r in semantic_dedup(
            corpus, cents, threshold=0.999, shard_target=None
        ).collect()
    }
    sharded = {
        (r.vec_id, r.cluster_size)
        for r in semantic_dedup(
            corpus, cents, threshold=0.999, shard_target=13
        ).collect()
    }
    assert base == sharded


@pytest.mark.slow
def test_two_level_pairs_recall(spark, corpus, cents):
    """Two-level assignment keeps SemDeDup pair recall: near-dup members
    have near-identical vectors, so both take the same probe path to the
    same cluster."""
    from crossbar_data_process_spark.operators.ivf import fit_two_level

    tl = fit_two_level(cents)
    want = _brute_pairs(spark, corpus, 0.999)
    got = {
        (r.vec_a, r.vec_b)
        for r in neighbor_pairs_ivf(
            corpus, cents, threshold=0.999, two_level=tl
        ).collect()
    }
    assert got <= want
    assert len(got) >= 0.95 * len(want)


def test_cluster_cap_stats_surfaces_dropped_and_sharded_mass(
    spark, corpus, cents
):
    """`no silent caps` (VERDICT r12 #3): the stats row must quantify
    exactly what the exclusion cap drops and what the shard grid splits."""
    from crossbar_data_process_spark.operators.similarity import (
        cluster_cap_stats,
    )

    n = corpus.count()
    # no caps: nothing dropped, nothing sharded (target beyond any cluster)
    r0 = cluster_cap_stats(
        corpus, cents, max_cluster_size=None, shard_target=10**9
    ).collect()[0]
    assert r0.n_docs == n
    assert r0.n_dropped_clusters == 0 and r0.n_sharded_clusters == 0
    # exclusion cap of 1 drops EVERY cluster (fixture clusters are ≥2)
    r1 = cluster_cap_stats(
        corpus, cents, max_cluster_size=1, shard_target=None
    ).collect()[0]
    assert r1.n_dropped_clusters == r1.n_clusters
    assert r1.n_dropped_docs == n
    # a tiny shard target shards every (non-dropped) cluster
    r2 = cluster_cap_stats(
        corpus, cents, max_cluster_size=None, shard_target=1
    ).collect()[0]
    assert r2.n_sharded_clusters == r2.n_clusters
    assert r2.n_sharded_docs == n and r2.n_dropped_docs == 0


def test_cluster_cap_side_product_matches_standalone(spark, corpus, cents):
    """VERDICT r14 #2: semantic_dedup(..., cap_stats_sink=d) must fill
    the EXACT numbers the standalone cluster_cap_stats re-assignment
    reports, and the survivor set must be untouched by the sink — with
    and without the shard grid."""
    from crossbar_data_process_spark.operators.similarity import (
        cluster_cap_stats,
        semantic_dedup,
    )

    for shard_target in (2000, 3):
        standalone = (
            cluster_cap_stats(corpus, cents, shard_target=shard_target)
            .collect()[0]
            .asDict()
        )
        sink: dict = {}
        with_sink = {
            (r.vec_id, r.cluster_size)
            for r in semantic_dedup(
                corpus,
                cents,
                threshold=0.999,
                shard_target=shard_target,
                cap_stats_sink=sink,
            ).collect()
        }
        assert sink == standalone, shard_target
        without = {
            (r.vec_id, r.cluster_size)
            for r in semantic_dedup(
                corpus, cents, threshold=0.999, shard_target=shard_target
            ).collect()
        }
        assert with_sink == without, shard_target
