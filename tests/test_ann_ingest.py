"""Writing the IVF silver and reading it back: ``write_assigned_corpus``
and ``pq.write_pq_corpus`` stamp the quantizer's identity next to the
data, refuse vectors that would poison the partition key, and
``ivf.read_silver`` decides what to read from one listing of the root
and that stamp."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators import ivf
from crossbar_data_process_spark.operators.ivf import (
    centroid_fingerprint,
    check_centroid_meta,
    ivf_fit,
    ivf_topk_assigned,
    write_assigned_corpus,
)


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 32)) * 4.0
    rows = []
    vid = 0
    for c in centers:
        for _ in range(100):
            v = c + rng.normal(size=32) * 0.6
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def centroids(clustered):
    return ivf_fit(clustered, dim=32, nlist=8, iters=2, driver_fit_rows=400)


def _refit(centroids):
    return [[float(x) + 0.25 for x in row] for row in centroids]


def test_centroid_identity_guard(spark, clustered, centroids, tmp_path):
    """The centroid matrix is part of the silver's identity. The
    fingerprint is deterministic and tells a refit apart; a silver
    rewritten at the same path under refit centroids carries the new
    identity, so the old centroids are refused from then on."""
    assert centroid_fingerprint(centroids) == centroid_fingerprint(
        [list(row) for row in centroids]
    )
    refit = _refit(centroids)
    assert centroid_fingerprint(refit) != centroid_fingerprint(centroids)

    silver = str(tmp_path / "silver")
    write_assigned_corpus(clustered, centroids, silver)
    q = clustered.filter(F.col("vec_id") == 0)
    assert ivf_topk_assigned(spark, silver, q, centroids, k=3).count() == 3
    write_assigned_corpus(clustered, refit, silver)
    assert check_centroid_meta(spark, silver, refit)["nlist"] == 8
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        ivf_topk_assigned(spark, silver, q, centroids, k=3)
    assert ivf_topk_assigned(spark, silver, q, refit, k=3).count() == 3


def test_batch_built_silver_is_stamped_too(spark, clustered, centroids, tmp_path):
    """write_assigned_corpus stamps the quantizer's identity next to the
    data, and check_centroid_meta verifies it."""
    oneshot = str(tmp_path / "oneshot")
    write_assigned_corpus(clustered, centroids, oneshot)
    stamp = check_centroid_meta(spark, oneshot, centroids)
    assert stamp["fingerprint"] == centroid_fingerprint(centroids)
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        check_centroid_meta(spark, oneshot, _refit(centroids))


def test_centroid_stamp_lands_on_existing_empty_dir(
    spark, clustered, centroids, tmp_path
):
    """A pre-created directory written with zero rows still receives the
    stamp: refit centroids are refused on it, and a probe with the
    silver's own centroids returns no rows instead of failing."""
    import os

    silver = str(tmp_path / "precreated")
    os.makedirs(silver)
    write_assigned_corpus(clustered.limit(0), centroids, silver)
    assert check_centroid_meta(spark, silver, centroids)["dim"] == 32
    with pytest.raises(ValueError, match="different\\s+quantizer"):
        check_centroid_meta(spark, silver, _refit(centroids))
    q = clustered.filter(F.col("vec_id") == 0)
    assert ivf_topk_assigned(spark, silver, q, centroids, k=3).collect() == []


def test_pq_factory_stamps_existing_but_empty_silver(
    spark, clustered, centroids, tmp_path
):
    """A PQ silver written over an existing (stamped, empty) float silver
    at the same path replaces its stamp: the codebooks are readable, the
    stamped schema is the codes-only one, and the PQ probe answers."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        load_pq_codebooks,
        pq_fit,
        write_pq_corpus,
    )

    silver = str(tmp_path / "empty_then_pq")
    write_assigned_corpus(clustered.limit(0), centroids, silver)
    books = pq_fit(clustered, dim=32, m=4, k=16, iters=2)
    write_pq_corpus(clustered.limit(50), centroids, books, silver)
    assert load_pq_codebooks(spark, silver) == books
    cols = ivf.read_silver(spark, silver, centroids).columns
    assert "codes" in cols and "embedding" not in cols
    q = clustered.filter(F.col("vec_id") < 2)
    assert ivf_pq_topk_assigned(
        spark, silver, q, centroids, books, k=3, nprobe=8
    ).count() > 0


def test_sink_rejects_null_and_wrong_dim_vectors(
    spark, clustered, centroids, tmp_path
):
    """A NULL (or wrong-length) embedding fails LOUDLY at the writer:
    unguarded, ivf_assign of a NULL vector is a NULL cluster, the row
    lands under cluster=__HIVE_DEFAULT_PARTITION__, and every later
    silver read dies on it."""
    bad_null = spark.createDataFrame(
        [(0, [0.5] * 32), (1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="NULL"):
        write_assigned_corpus(bad_null, centroids, str(tmp_path / "nullvec"))
    bad_dim = spark.createDataFrame(
        [(0, [0.5] * 31)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim=32"):
        write_assigned_corpus(bad_dim, centroids, str(tmp_path / "dimvec"))


def test_reader_names_the_poisoned_partition_dir(
    spark, clustered, centroids, tmp_path
):
    """A cluster=__HIVE_DEFAULT_PARTITION__ directory (NULL keys landed by
    some writer without input validation) produces an error NAMING the
    offending path, not a bare 'invalid literal for int()'."""
    import os

    silver = str(tmp_path / "poisoned")
    write_assigned_corpus(clustered.limit(50), centroids, silver)
    os.makedirs(os.path.join(silver, "cluster=__HIVE_DEFAULT_PARTITION__"))
    q = clustered.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="cluster=__HIVE_DEFAULT_PARTITION__"):
        ivf_topk_assigned(spark, silver, q, centroids, k=5, nprobe=2)


def test_reader_decisions_come_from_one_snapshot(
    spark, clustered, centroids, tmp_path, monkeypatch
):
    """Which lists exist and whether the silver is stamped are decided
    from ONE listing of the silver's root: a flat probe and a PQ probe
    each list the root once and nothing below it."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        pq_fit,
        write_pq_corpus,
    )

    flat = str(tmp_path / "flat")
    pq_silver = str(tmp_path / "pq")
    books = pq_fit(clustered, dim=32, m=4, k=16, iters=2)
    write_assigned_corpus(clustered, centroids, flat)
    write_pq_corpus(clustered, centroids, books, pq_silver)

    listed: list[str] = []

    class _CountingFs:
        def __init__(self, fs):
            self._fs = fs

        def listStatus(self, path):
            listed.append(path.toString())
            return self._fs.listStatus(path)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = ivf._fs_and_path

    def counting(spark_, uri):
        fs, path = real(spark_, uri)
        return _CountingFs(fs), path

    monkeypatch.setattr(ivf, "_fs_and_path", counting)
    q = clustered.filter(F.col("vec_id") % 200 == 0)
    assert ivf_topk_assigned(spark, flat, q, centroids, k=3).count() == 12
    assert [p.rstrip("/").rsplit("/", 1)[-1] for p in listed] == ["flat"]
    listed.clear()
    assert ivf_pq_topk_assigned(
        spark, pq_silver, q, centroids, books, k=3, nprobe=8
    ).count() == 12
    assert [p.rstrip("/").rsplit("/", 1)[-1] for p in listed] == ["pq"]


def test_two_level_sink_refuses_foreign_leaf_centroids(
    spark, clustered, centroids, tmp_path
):
    """A two-level quantizer wrapping DIFFERENT leaf centroids than the
    ones the writer stamps must be refused before anything is written:
    the assignments would not match the stored identity."""
    import os

    from crossbar_data_process_spark.operators.ivf import fit_two_level

    silver = str(tmp_path / "x")
    with pytest.raises(ValueError, match="different leaf centroids"):
        write_assigned_corpus(
            clustered, centroids, silver,
            two_level=fit_two_level(_refit(centroids)),
        )
    assert not os.path.exists(silver)


def test_pq_identity_check_tolerates_tuple_and_numpy_books(
    spark, clustered, centroids, tmp_path
):
    """Codebooks passed as tuples / numpy scalars that are numerically
    identical to the stamp must NOT raise a spurious 'DIFFERENT
    codebooks': the identity comparison goes through canon_books."""
    from crossbar_data_process_spark.operators.pq import (
        ivf_pq_topk_assigned,
        pq_fit,
        write_pq_corpus,
    )

    books = pq_fit(clustered, dim=32, m=4, k=8, driver_fit_rows=256)
    silver = str(tmp_path / "pq_canon")
    write_pq_corpus(clustered.limit(200), centroids, books, silver)
    as_tuples = tuple(
        tuple(tuple(np.float64(x) for x in code) for code in book)
        for book in books
    )
    q = clustered.filter(F.col("vec_id") < 3)
    out = ivf_pq_topk_assigned(
        spark, silver, q, centroids, list(as_tuples), k=3, nprobe=8
    )
    assert out.count() == 9
