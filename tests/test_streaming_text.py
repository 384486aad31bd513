"""Text-analysis operators under Structured Streaming: the per-document
profile (token counts, fingerprint, quality, language) and exact-dedup
fingerprinting are stateless Column expressions, so they run unchanged on
a stream — asserted here by replaying the documents table as a file stream
and checking stream == batch. This is the streaming half of the LLM-data
pipeline charter: score/fingerprint documents as they land, dedup
downstream."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from crossbar_data_process_spark.functions.text import (
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
)

SF_DIR = "/root/testdata/sf0.001"


def _profile(df):
    return df.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        doc_fingerprint("text").alias("fp"),
        quality_score("text").alias("quality"),
        language_id("text").alias("lang_detected"),
    )


@pytest.fixture(scope="module")
def doc_chunks_dir(spark):
    tmp = tempfile.mkdtemp(prefix="docs_stream_")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(3).write.mode(
        "overwrite"
    ).parquet(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_doc_profile_matches_batch(spark, doc_chunks_dir):
    schema = spark.read.parquet(doc_chunks_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(doc_chunks_dir)
    )
    q = (
        _profile(stream)
        .writeStream.format("memory")
        .queryName("docprofile")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    streamed = {tuple(r) for r in spark.table("docprofile").collect()}
    batch = {
        tuple(r)
        for r in _profile(spark.read.parquet(doc_chunks_dir)).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_fingerprint_dedup_matches_batch(spark, doc_chunks_dir):
    # fingerprint on the stream + dropDuplicates state: the streaming form
    # of dedup_exact's survivors (first arrival wins instead of min-id —
    # the standard streaming contract)
    schema = spark.read.parquet(doc_chunks_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(doc_chunks_dir)
    )
    deduped = (
        stream.select("doc_id", doc_fingerprint("text").alias("fp"))
        .dropDuplicates(["fp"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("fpdedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    streamed_fps = {r.fp for r in spark.table("fpdedup").collect()}
    batch_fps = {
        r.fp
        for r in spark.read.parquet(doc_chunks_dir)
        .select(doc_fingerprint("text").alias("fp"))
        .distinct()
        .collect()
    }
    assert streamed_fps == batch_fps  # one survivor per distinct fingerprint


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
