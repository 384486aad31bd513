"""Product quantization (operators/pq.py): fitted-codebook recall against
brute-force Euclidean ground truth on a clustered corpus, quantization
error vs the fixed LCG books, encode determinism, and the IVF-PQ silver
read path (partition pruning + column pruning — the scan must never
mention the embedding column)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.pq import (
    ivf_pq_topk_assigned,
    load_pq_codebooks,
    pq_adc_topk,
    pq_codebooks_fixed,
    pq_encode,
    pq_fit,
    pq_query_lut,
    pq_reconstruct,
    write_pq_corpus,
    _sqdist,
)

DIM, M, K = 32, 4, 16


@pytest.fixture(scope="module")
def clustered(spark):
    """8 well-separated gaussian clusters of 150 vectors (dim 32) with 10
    planted NEAR-DUPLICATES of each cluster's first vector (σ=0.05 vs the
    cluster spread σ=0.6). PQ resolves distance TIERS, not within-cell
    ordering — quantization error is the within-cell variance, so ranking
    149 equidistant cluster-mates is unresolvable at code granularity by
    design (measured recall ≈ 1/15, the random-within-cluster floor).
    The planted dups give each query a ground-truth top-10 separated from
    the background by ~100× in squared distance — the tier structure the
    recall claim is about (and the shape of the real workload: near-dup
    search over a clustered corpus)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, DIM)) * 4.0
    rows = []
    vid = 0
    firsts = []
    for c in centers:
        first = None
        for i in range(150):
            v = c + rng.normal(size=DIM) * 0.6
            if i == 0:
                first = v
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        firsts.append(first)
    for first in firsts:
        for _ in range(10):
            v = first + rng.normal(size=DIM) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def many_clusters(spark):
    """32 clusters × 40 vectors + 5 planted near-dups per cluster-first —
    the nlist >> k regime where residual encoding earns its keep (raw
    books at k=8 cells/subspace cannot span 32 cluster locations).
    Returns (df, n_base) with the dups appended after n_base."""
    rng = np.random.default_rng(23)
    centers = rng.normal(size=(32, DIM)) * 4.0
    rows = []
    vid = 0
    firsts = []
    for c in centers:
        first = None
        for i in range(40):
            v = c + rng.normal(size=DIM) * 0.5
            if i == 0:
                first = v
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        firsts.append(first)
    n_base = vid
    for first in firsts:
        for _ in range(5):
            v = first + rng.normal(size=DIM) * 0.04
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, n_base


def _exact_euclid_topk(vectors, queries, k):
    """Test-side brute-force squared-Euclidean top-k ground truth."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = vectors.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("d2", _sqdist(F.col("qv"), F.col("cv")))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def test_pq_adc_recall_vs_exact(spark, clustered):
    """Fitted books at a realistic code rate (m=8 subspaces × 32 codes —
    8 bytes/vector), ADC top-10 vs exact Euclidean top-10 on the planted
    near-dup tiers. Measured 1.0 at this config; the m=4/k=16 oracle
    config resolves only ~0.6 here — the recall/bitrate trade is real and
    the fit knob is what buys it."""
    books = pq_fit(clustered, dim=DIM, m=8, k=32, iters=10)
    q = clustered.filter((F.col("vec_id") % 150 == 0) & (F.col("vec_id") < 1200))
    truth = {
        (r.query_id, r.neighbor_id)
        for r in _exact_euclid_topk(clustered, q, 10).collect()
    }
    codes = pq_encode(clustered, books, keep_vec=False)
    luts = pq_query_lut(q, books)
    got = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(codes, luts, 8, 32, k=10).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_pq_fit_beats_fixed_codebooks(spark, clustered):
    """Mean reconstruction error (squared Euclid between vector and its
    decoded code) must be materially lower with fitted books than with
    the data-oblivious LCG books — the entire point of training."""

    def mean_err(books):
        enc = pq_encode(clustered, books)
        rec = enc.withColumn(
            "err", _sqdist(F.col("embedding"), pq_reconstruct(F.col("codes"), books))
        )
        return rec.agg(F.avg("err")).first()[0]

    fitted = mean_err(pq_fit(clustered, dim=DIM, m=M, k=K, iters=8))
    fixed = mean_err(pq_codebooks_fixed(DIM, M, K))
    assert fitted < fixed / 2, (fitted, fixed)


def test_pq_encode_deterministic_and_bounded(spark, clustered):
    books = pq_codebooks_fixed(DIM, M, K)
    a = pq_encode(clustered, books).orderBy("vec_id").collect()
    b = pq_encode(clustered, books).orderBy("vec_id").collect()
    assert [r.codes for r in a] == [r.codes for r in b]
    for r in a[:50]:
        assert len(r.codes) == M
        assert all(0 <= c < K for c in r.codes)


def test_pq_encode_keep_vec_false_drops_vector(spark, clustered):
    books = pq_codebooks_fixed(DIM, M, K)
    cols = pq_encode(clustered, books, keep_vec=False).columns
    assert "embedding" not in cols and "codes" in cols and "vec_id" in cols


def test_ivf_pq_silver_matches_full_adc_at_full_probe(spark, clustered, tmp_path):
    """nprobe == nlist makes the IVF-PQ silver path exactly equal to the
    in-memory full-corpus ADC (every list probed), AND the probe scan must
    be partition-pruned (dynamicpruning) and column-pruned: the silver
    stores codes only, so the scan's ReadSchema must not mention an
    embedding column — the byte-shrink the layout exists for."""
    from crossbar_data_process_spark.operators.ivf import ivf_fit

    books = pq_fit(clustered, dim=DIM, m=M, k=K, iters=4)
    cents = ivf_fit(clustered, dim=DIM, nlist=8, iters=2)
    path = str(tmp_path / "pq_silver")
    write_pq_corpus(clustered, cents, books, path)

    q = clustered.filter((F.col("vec_id") % 150 == 0) & (F.col("vec_id") < 1200))
    assigned = ivf_pq_topk_assigned(
        spark, path, q, cents, books, k=10, nprobe=8
    )
    full = pq_adc_topk(
        pq_encode(clustered, books, keep_vec=False),
        pq_query_lut(q, books),
        M,
        K,
        k=10,
    )
    got = assigned.collect()
    assert {(r.query_id, r.neighbor_id, r.adc, r.rnk) for r in got} == {
        (r.query_id, r.neighbor_id, r.adc, r.rnk) for r in full.collect()
    }
    # rnk is the 1-based dense rank a rank-fusion consumer expects
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rnk)
    assert by_q and all(sorted(v) == list(range(1, 11)) for v in by_q.values())

    pruned = ivf_pq_topk_assigned(
        spark, path, q, cents, books, k=10, nprobe=2
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "probe join must prune corpus partitions"
    )
    # column pruning: the parquet scan reads codes, never a vector column
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, "no scan node found"
    for ln in scan_lines:
        assert "embedding" not in ln, ln


def test_ivf_pq_pruned_probe_recall(spark, clustered):
    """nprobe=2 of nlist=8 on the clustered fixture: the IVF candidate cut
    composed with PQ scoring still finds most true neighbors — the
    composed scale path is usable, not just plumbed."""
    import os
    import tempfile

    from crossbar_data_process_spark.operators.ivf import ivf_fit

    books = pq_fit(clustered, dim=DIM, m=8, k=32, iters=10)
    cents = ivf_fit(clustered, dim=DIM, nlist=8, iters=2)
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "pq_silver")
        write_pq_corpus(clustered, cents, books, path)
        q = clustered.filter((F.col("vec_id") % 150 == 0) & (F.col("vec_id") < 1200))
        truth = {
            (r.query_id, r.neighbor_id)
            for r in _exact_euclid_topk(clustered, q, 10).collect()
        }
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_pq_topk_assigned(
                spark, path, q, cents, books, k=10, nprobe=2
            ).collect()
        }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_pq_codebooks_roundtrip(spark, clustered, tmp_path):
    from crossbar_data_process_spark.operators.ivf import ivf_fit

    books = pq_fit(clustered, dim=DIM, m=M, k=K, iters=2)
    cents = ivf_fit(clustered, dim=DIM, nlist=4, iters=1)
    path = str(tmp_path / "pq_silver")
    write_pq_corpus(clustered, cents, books, path)
    assert load_pq_codebooks(spark, path) == books


def test_pq_fit_rejects_bad_shapes(spark, clustered):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(clustered, dim=DIM, m=5)
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks_fixed(DIM, m=5)


@pytest.mark.slow
def test_residual_pq_beats_raw_at_same_bitrate(spark, many_clusters, tmp_path):
    """FAISS-IVFPQ residual encoding in the regime it exists for:
    nlist (32) >> k (8) — raw-space books must span 32 cluster locations
    with 8 cells per subspace (hopeless), residual books only span
    within-list spread (POSITIONAL centers from pq_fit_residual; the
    UNIT assignment centroids shrink nothing — measured recon ratio 1.09
    before the positional-center fix). Same bitrate, two decisive wins:

    1. ADC as a DISTANCE ESTIMATOR: mean relative error of adc vs the
       true ‖q−x‖² over the full query×corpus grid — measured 0.92 (raw:
       the estimate is mostly codebook error) vs 0.055 (residual).
    2. Reconstruction error — measured ~7× lower.

    Dup-recall is deliberately NOT the metric here: the planted tier
    (σ=0.04) sits far below the within-list spread (σ=0.5), so at k=8
    whole lists share cells and tie-break by id — PQ resolves tiers only
    down to its cell size (the recall claim at an adequate bitrate lives
    in test_pq_adc_recall_vs_exact)."""
    from crossbar_data_process_spark.operators.ivf import ivf_assign, ivf_fit
    from crossbar_data_process_spark.operators.pq import (
        _residual_expr,
        pq_fit_residual,
        pq_reconstruct,
    )

    df, n_base = many_clusters
    cents = ivf_fit(df, dim=DIM, nlist=32, iters=3)
    raw_books = pq_fit(df, dim=DIM, m=M, k=8, iters=8)
    centers, res_books = pq_fit_residual(
        df, dim=DIM, centroids=cents, m=M, k=8, iters=8
    )
    raw_path = str(tmp_path / "raw")
    res_path = str(tmp_path / "res")
    write_pq_corpus(df, cents, raw_books, raw_path)
    write_pq_corpus(
        df, cents, res_books, res_path, residual_centers=centers
    )

    q = df.filter(F.col("vec_id") < 10)
    qq = q.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = df.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    true = cv.join(
        F.broadcast(qq), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id", "neighbor_id", _sqdist(F.col("qv"), F.col("cv")).alias("d2")
    )

    def rel_err(path, books):
        adc = ivf_pq_topk_assigned(
            spark, path, q, cents, books, k=10**9, nprobe=32
        )
        return (
            adc.join(true, ["query_id", "neighbor_id"])
            .agg(F.avg(F.abs(F.col("adc") - F.col("d2")) / F.col("d2")))
            .first()[0]
        )

    e_raw = rel_err(raw_path, raw_books)
    e_res = rel_err(res_path, res_books)
    assert e_res < 0.15, e_res
    assert e_res < e_raw / 5, (e_raw, e_res)

    # reconstruction: residual decode (center + decoded residual) must
    # beat raw decode by a wide margin at the same bitrate
    enc_raw = pq_encode(df, raw_books)
    err_raw = enc_raw.withColumn(
        "err",
        _sqdist(F.col("embedding"), pq_reconstruct(F.col("codes"), raw_books)),
    ).agg(F.avg("err")).first()[0]
    asg = df.withColumn(
        "cluster", ivf_assign(F.col("embedding"), cents)
    ).withColumn(
        "__rv", _residual_expr(F.col("embedding"), F.col("cluster"), centers)
    )
    err_res = pq_encode(asg, res_books, vec_col="__rv").withColumn(
        "err",
        _sqdist(F.col("__rv"), pq_reconstruct(F.col("codes"), res_books)),
    ).agg(F.avg("err")).first()[0]
    assert err_res < err_raw / 3, (err_raw, err_res)


def test_residual_stamp_guards_probe_space(spark, clustered, tmp_path):
    """A residual silver probed as raw (or vice versa) must raise; the
    default (residual=None) follows the silver's own stamp."""
    from crossbar_data_process_spark.operators.ivf import ivf_fit
    from crossbar_data_process_spark.operators.pq import load_pq_meta

    from crossbar_data_process_spark.operators.pq import pq_fit_residual

    cents = ivf_fit(clustered, dim=DIM, nlist=4, iters=1)
    centers, books = pq_fit_residual(
        clustered, dim=DIM, centroids=cents, m=M, k=K, iters=2
    )
    path = str(tmp_path / "res_guard")
    write_pq_corpus(
        clustered, cents, books, path, residual_centers=centers
    )
    assert load_pq_meta(spark, path)["residual"] is True
    q = clustered.filter(F.col("vec_id") < 3)
    # stamp-following default works
    assert ivf_pq_topk_assigned(
        spark, path, q, cents, books, k=3, nprobe=4
    ).count() > 0
    with pytest.raises(ValueError, match="residual"):
        ivf_pq_topk_assigned(
            spark, path, q, cents, books, k=3, nprobe=4, residual=False
        )


def test_pq_encode_rejects_dim_mismatch(spark):
    """Books whose m·dsub disagrees with the corpus dim must fail loudly —
    a silent prefix encode (or NULL codes from out-of-range slices)
    collapses recall with no error (r11 review)."""
    books16 = pq_codebooks_fixed(16, m=4, k=8)
    df = spark.createDataFrame(
        [(0, [float(i) for i in range(DIM)])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="expect dim=16"):
        pq_encode(df, books16).collect()


def test_pq_probe_rejects_foreign_books(spark, clustered, tmp_path):
    """A probe with refit/foreign books against a stamped silver must
    raise — LUTs from the wrong books score garbage silently (r11
    review: the writer refused this, the probe did not)."""
    from crossbar_data_process_spark.operators.ivf import ivf_fit

    cents = ivf_fit(clustered, dim=DIM, nlist=4, iters=1)
    books = pq_fit(clustered, dim=DIM, m=M, k=K, iters=2)
    path = str(tmp_path / "foreign_guard")
    write_pq_corpus(clustered, cents, books, path)
    q = clustered.filter(F.col("vec_id") < 3)
    foreign = pq_codebooks_fixed(DIM, M, K)
    with pytest.raises(ValueError, match="DIFFERENT codebooks"):
        ivf_pq_topk_assigned(spark, path, q, cents, foreign, k=3, nprobe=4)


def test_pq_probe_rejects_foreign_centroids(spark, clustered, tmp_path):
    """r11 review round 2: the probe verifies the CENTROID stamp too —
    foreign/refit centroids route queries to partitions whose ids mean
    something else (silent pruned-probe recall collapse)."""
    from crossbar_data_process_spark.operators.ivf import ivf_fit

    cents = ivf_fit(clustered, dim=DIM, nlist=4, iters=1)
    books = pq_fit(clustered, dim=DIM, m=M, k=K, iters=2)
    path = str(tmp_path / "cent_guard")
    write_pq_corpus(clustered, cents, books, path)
    refit = [[float(x) + 0.25 for x in row] for row in cents]
    q = clustered.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        ivf_pq_topk_assigned(spark, path, q, refit, books, k=3, nprobe=4)


def test_pq_encode_null_vector_raises_diagnosable(spark):
    """A NULL vector aborts the encode with a readable message (NULL codes
    would otherwise flow into the silver and NULL adc tops every ranking);
    r11 round-2 fix: the message itself must not null-propagate away."""
    books = pq_codebooks_fixed(DIM, M, K)
    df = spark.createDataFrame(
        [(0, [1.0] * DIM), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL"):
        pq_encode(df, books).collect()


def test_pq_matches_python_reference_on_random_vectors(spark):
    """Property pin beyond the SQL oracle: Spark's encode+ADC equals a
    pure-Python replication of the documented arithmetic (left-to-right
    fold sqdist, floor-based 1e-6 rounding, first-index argmin, ADC sum
    re-rounded) on deterministic pseudo-random vectors — any drift in the
    expression tree (fold order, rounding form, tie rule) trips here even
    if both engines of the oracle drift together."""
    import math

    dim, m, k = 8, 2, 4
    books = pq_codebooks_fixed(dim, m=m, k=k, seed=424242)
    dsub = dim // m

    def fr6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def sqd(u, v):
        acc = 0.0
        for a, b in zip(u, v):
            acc = acc + (float(a) - float(b)) * (float(a) - float(b))
        return acc

    def ref_codes(vec):
        out = []
        for j in range(m):
            sv = vec[j * dsub : (j + 1) * dsub]
            d = [fr6(sqd(sv, c)) for c in books[j]]
            out.append(d.index(min(d)))
        return out

    def ref_adc(qvec, codes):
        lut = [
            fr6(sqd(qvec[j * dsub : (j + 1) * dsub], books[j][c]))
            for j in range(m)
            for c in range(k)
        ]
        total = 0.0
        for j in range(m):
            total = total + lut[j * k + codes[j]]  # 0-based ref of the 1-based element_at
        return fr6(total)

    # deterministic pseudo-random float32 vectors (seeded LCG — no RNG
    # state; float32 round-trip matches the array<float> column type)
    import numpy as np

    state = 77
    rows = []
    for i in range(60):
        vec = []
        for _ in range(dim):
            state = (state * 48271) % 2147483647
            vec.append(np.float32(state / 2147483647.0 * 4.0 - 2.0))
        rows.append((i, [float(x) for x in vec]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got_codes = {
        r.vec_id: list(r.codes)
        for r in pq_encode(df, books, keep_vec=False).collect()
    }
    by_id = {i: v for i, v in rows}
    for i, v in rows:
        assert got_codes[i] == ref_codes(v), i

    q = df.filter(F.col("vec_id") < 5)
    codes_df = pq_encode(df, books, keep_vec=False)
    got = {
        (r.query_id, r.neighbor_id): r.adc
        for r in pq_adc_topk(
            codes_df, pq_query_lut(q, books), m, k, k=60
        ).collect()
    }
    assert len(got) == 5 * 59  # 5 queries x 59 non-self neighbors
    for (qi, ni), adc in got.items():
        want = ref_adc(by_id[qi], ref_codes(by_id[ni]))
        assert adc == want, (qi, ni, adc, want)
