"""Deterministic sampling (operators/sampling.py): reproducible across
runs AND partitionings — the property df.sample() cannot give."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.operators.sampling import deterministic_sample

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_sample_is_deterministic_and_partition_invariant(spark):
    d = _docs(spark)
    a = {r.doc_id for r in deterministic_sample(d, 0.3, "doc_id").collect()}
    b = {r.doc_id for r in deterministic_sample(d, 0.3, "doc_id").collect()}
    c = {
        r.doc_id
        for r in deterministic_sample(d.repartition(7), 0.3, "doc_id").collect()
    }
    assert a == b == c  # same draw every run, any partitioning
    n = d.count()
    assert 0.2 * n < len(a) < 0.4 * n  # fraction is honored statistically


def test_sample_is_nested_and_salt_independent(spark):
    d = _docs(spark)
    k30 = {r.doc_id for r in deterministic_sample(d, 0.3, "doc_id").collect()}
    k10 = {r.doc_id for r in deterministic_sample(d, 0.1, "doc_id").collect()}
    assert k10 < k30  # smaller fraction = strict subset (same hash order)
    other = {
        r.doc_id
        for r in deterministic_sample(d, 0.3, "doc_id", salt="other").collect()
    }
    assert other != k30  # different salt draws an independent sample


def test_sample_rejects_bad_fraction(spark):
    with pytest.raises(ValueError, match="fraction"):
        deterministic_sample(_docs(spark), 1.5, "doc_id")


def test_null_keys_hash_to_sentinel_not_bare_salt(spark):
    """NULL keys are coalesced to a sentinel before hashing: they share ONE
    bucket (equal keys must draw identically) but that bucket must differ
    from the bare-salt string's and from any real key's."""
    from crossbar_data_process_spark.operators.sampling import _bucket

    d = spark.createDataFrame(
        [(None,), ("",), ("\x00__null_key__",)], "k string"
    ).select(_bucket(F.col("k"), "mix").alias("b"))
    null_b, empty_b, sentinel_b = [r.b for r in d.collect()]
    assert null_b is not None  # never the concat_ws-dropped bare salt
    assert null_b == sentinel_b  # documented: NULL == the sentinel literal
    assert null_b != empty_b  # distinct from the empty string key
    # and the sampling decision is well-defined (kept under a high enough
    # fraction, deterministically)
    nd = spark.createDataFrame([(None, 1), (None, 2)], "k string, v int")
    kept = deterministic_sample(nd, 1.0, "k").count()
    assert kept == 2
