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


def test_streaming_ingest_dedups_against_index(spark, tmp_path):
    """The streaming ingestion story: micro-batches flow through
    foreachBatch, each batch is flagged against the persisted corpus index
    and only survivors land in gold — exact dups across *earlier batches*
    are caught by extending the index between batches."""
    import glob

    corpus = _df(spark, CORPUS)
    index = {k: v.localCheckpoint() for k, v in dedup_index(corpus).items()}

    inbox = str(tmp_path / "inbox")
    gold = str(tmp_path / "gold")
    batch1 = [(10, CORPUS[0][1]), (11, "fresh astronomy text about distant spiral galaxies and nebulae")]
    batch2 = [(12, batch1[1][1]), (13, "another brand new document on deep sea biology and vents")]
    _df(spark, batch1).coalesce(1).write.mode("append").parquet(inbox)

    state = {"index": index}

    def sink(bdf, bid):
        flags = flag_against_index(bdf, state["index"], threshold=0.4)
        survivors = bdf.join(flags.select("doc_id"), "doc_id", "left_anti")
        survivors.write.mode("append").parquet(gold)
        delta = dedup_index(survivors)
        state["index"] = {
            k: state["index"][k].unionByName(delta[k]).localCheckpoint()
            for k in delta
        }

    schema = _df(spark, batch1).schema

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_stream()
    _df(spark, batch2).coalesce(1).write.mode("append").parquet(inbox)
    run_stream()

    landed = {r.doc_id for r in spark.read.parquet(gold).collect()}
    # 10 = exact dup of corpus doc 1 -> dropped; 12 = exact dup of batch-1
    # survivor 11 (caught only because the index grew between batches)
    assert landed == {11, 13}
    assert glob.glob(f"{gold}/*.parquet")


def test_persisted_index_ingest_writer_end_to_end(spark, tmp_path):
    """streaming/ingest.py (r08): the production foreachBatch writer over a
    PERSISTED batch-partitioned index — within-batch exact AND near dedup,
    cross-batch dedup via the growing on-disk index, dedup against the
    seeded corpus, and replay idempotence (re-running a batch id leaves
    gold and index byte-identical in content)."""
    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir)

    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)

    batch1 = [
        (10, CORPUS[0][1]),  # exact dup of seeded corpus doc 1 -> dropped
        (11, "fresh astronomy text about distant spiral galaxies and nebulae"),
        (12, "fresh astronomy text about distant spiral galaxies and nebulae"),
        # ^ within-batch exact dup of 11 -> dropped (min-id witness survives)
        (13, "machine learning systems process large corpora of text data every single day"),
        # ^ near dup of seeded corpus doc 2 -> dropped
        (14, "deep sea biology around hydrothermal vents hosts chemosynthetic life forms"),
        (15, "deep sea biology around hydrothermal vents hosts chemosynthetic life colonies"),
        # ^ within-batch NEAR dup of 14 -> dropped
    ]
    batch2 = [
        (20, batch1[1][1]),  # exact dup of batch-1 survivor 11 -> dropped
        (21, "a brand new essay on alpine glacier dynamics and seasonal melt"),
    ]
    sink(_df(spark, batch1), 0)
    sink(_df(spark, batch2), 1)

    landed = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    assert landed == {11, 14, 21}

    # replay of batch 1 (at-least-once delivery) is a no-op on content —
    # same survivors, no duplicated gold rows, index partitions replaced
    sink(_df(spark, batch1), 0)
    again = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(gold_dir).orderBy("doc_id").collect()
    ]
    assert [d for d, _ in again] == [11, 14, 21]

    # the replayed batch did not flag against its own earlier index rows:
    # its survivors are identical, and batch 2's survivor is untouched
    fp = spark.read.parquet(f"{index_dir}/fingerprints")
    assert {r.doc for r in fp.collect()} == {1, 2, 3, 11, 14, 21}


def test_ingest_per_batch_work_constant_as_index_grows(spark, tmp_path):
    """r8 VERDICT #2 (scale shape, pinned on executed work): per-batch
    jobs/stages must NOT grow with the accumulated index — the 100 TB
    daily-ingest claim is that batch cost is sized by the BATCH while the
    index only ever participates through partition-pruned reads and
    batch-sized joins. Four identically-shaped batches; the later batches
    (bigger index) may not execute more jobs, and at most AQE-level stage
    jitter. The wall-clock version of this curve is
    ``git show 8f7ca59:scripts/ingest_probe.py`` (BASELINE.md table)."""
    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)

    def batch(b):
        # same composition every batch: 6 fresh + 1 exact dup of the seed
        base = 100 * (b + 1)
        rows = [
            (base + i,
             f"batch {b} fresh document number {i} about topic "
             f"{'alpha beta gamma delta epsilon zeta eta theta'.split()[i]} "
             f"with unique token u{b}x{i}")
            for i in range(6)
        ]
        rows.append((base + 6, CORPUS[0][1]))
        return _df(spark, rows)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run_counted(b):
        group = f"ingestpin-{b}"
        sc.setJobGroup(group, f"batch {b}")
        try:
            sink(batch(b), b)
        finally:
            sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in job_ids
            if tracker.getJobInfo(j)
        )
        return len(job_ids), stages

    counts = [run_counted(b) for b in range(4)]
    # batch 0 may differ (first write against a seed-only index); compare
    # steady-state batches: jobs exactly constant, stages within AQE jitter
    (j1, s1), (j2, s2), (j3, s3) = counts[1], counts[2], counts[3]
    assert j2 <= j1 and j3 <= j1, counts
    assert s2 <= s1 + 2 and s3 <= s1 + 2, counts


def test_index_read_missing_path_empty_but_errors_propagate(spark, tmp_path):
    """r8 ADVICE: a MISSING index reads as empty (first batch against an
    unseeded index), but any OTHER read failure — e.g. a corrupt footer —
    must raise and fail the micro-batch instead of silently disabling
    dedup and letting duplicates land in gold."""
    import pytest as _pytest

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from crossbar_data_process_spark.streaming.ingest import (
        _read_batch_partitions,
    )

    schema = StructType(
        [StructField("doc", LongType()), StructField("fp", StringType())]
    )
    missing = str(tmp_path / "nope")
    assert _read_batch_partitions(spark, missing, schema, 0).count() == 0

    corrupt = tmp_path / "corrupt" / "__batch_id=0"
    corrupt.mkdir(parents=True)
    (corrupt / "part-0000.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception):
        _read_batch_partitions(
            spark, str(tmp_path / "corrupt"), schema, 1
        ).count()


def test_index_batch_id_roundtrips_beyond_int32(spark, tmp_path):
    """r8 ADVICE: Structured Streaming batch ids are 64-bit longs — the
    partition column must read back as LongType so a batch id beyond
    int32 parses and the exclude filter still works."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from crossbar_data_process_spark.streaming.ingest import (
        _read_batch_partitions,
        _write_batch_partition,
    )

    schema = StructType(
        [StructField("doc", LongType()), StructField("fp", StringType())]
    )
    path = str(tmp_path / "fp")
    big = 2**33 + 7
    _write_batch_partition(_df(spark, CORPUS[:1]).select(
        F.col("doc_id").alias("doc"), F.lit("aa").alias("fp")), path, -1)
    _write_batch_partition(_df(spark, CORPUS[1:2]).select(
        F.col("doc_id").alias("doc"), F.lit("bb").alias("fp")), path, big)
    # excluding the big batch leaves only the seed partition
    kept = _read_batch_partitions(spark, path, schema, big)
    assert [r.fp for r in kept.collect()] == ["aa"]
    # and not excluding it reads both partitions back intact
    both = _read_batch_partitions(spark, path, schema, -2)
    assert {r.fp for r in both.collect()} == {"aa", "bb"}


def test_index_param_mismatch_fails_fast(spark, tmp_path):
    """LSH parameters are part of the index's identity: band keys built
    with different (n, num_hashes, bands) never collide with the stored
    buckets, so a mismatched writer would SILENTLY stop flagging
    near-dups. The seed stamps _index_meta.json; a writer configured
    differently must refuse at factory time."""
    import pytest as _pytest

    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir, n=3, num_hashes=12, bands=6)

    with _pytest.raises(ValueError, match="band keys would never collide"):
        dedup_ingest_writer(spark, index_dir, gold_dir, bands=4, num_hashes=12)

    # matching parameters construct fine and the sink still works
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)
    sink(_df(spark, [(30, CORPUS[0][1]), (31, "novel doc about tidal marsh ecology and sediment transport")]), 0)
    landed = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    assert landed == {31}


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across RESTARTS, not just sink replays: run the
    bounded stream with only file 0 present (availableNow drains it and
    stops), then add file 1 and restart with the SAME checkpoint — the
    source must assign batch 1 to the new file and must NOT reprocess
    file 0. Gold ends with each survivor in exactly one batch partition."""
    import glob as _glob
    import os
    import shutil

    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    input_dir = str(tmp_path / "input")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)

    b0 = [(40, "first restart batch doc about volcanic island arc formation"),
          (41, CORPUS[0][1])]                      # dup of the seed -> dropped
    b1 = [(50, b0[0][1]),                           # dup of batch-0 survivor
          (51, "second restart batch doc about deep ocean current circulation")]

    def add_file(i, rows):
        staging = str(tmp_path / f"stage{i}")
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(staging)
        part = _glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"f{i}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)

    def run_stream():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(input_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file(0, b0)
    run_stream()
    first = {(r["doc_id"], r["__batch_id"]) for r in spark.read.parquet(gold_dir).collect()}
    assert first == {(40, 0)}

    add_file(1, b1)
    run_stream()  # SAME checkpoint: resumes, processes ONLY the new file
    after = {(r["doc_id"], r["__batch_id"]) for r in spark.read.parquet(gold_dir).collect()}
    # batch 0 untouched (not reprocessed/duplicated); file 1 became batch 1;
    # 50 was flagged against batch 0's survivor via the grown index
    assert after == {(40, 0), (51, 1)}


def test_empty_micro_batch_is_a_safe_noop(spark, tmp_path):
    """Structured Streaming delivers EMPTY micro-batches (idle source,
    timeout triggers); the sink must treat them as no-ops — no error, no
    gold/index mutation — or a quiet night would crash the ingest."""
    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)

    sink(_df(spark, [(60, "one real doc about karst cave hydrology and limestone")]), 0)
    before = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    fp_before = spark.read.parquet(f"{index_dir}/fingerprints").count()

    empty = spark.createDataFrame([], "doc_id long, text string")
    sink(empty, 1)  # must not raise

    after = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    assert after == before == {60}
    assert spark.read.parquet(f"{index_dir}/fingerprints").count() == fp_before

    # and a later real batch still dedups against everything
    sink(_df(spark, [(70, "one real doc about karst cave hydrology and limestone"),
                     (71, "fresh doc about prairie grassland fire succession cycles")]), 2)
    final = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    assert final == {60, 71}


def test_index_compaction_preserves_semantics(spark, tmp_path):
    """compact_batch_partitions (r09): years of daily batches = thousands
    of small-file partitions; compaction consolidates committed batches
    into one more-negative partition. Post-compaction the index must flag
    exactly what it flagged before — seed dups, cross-batch dups — and
    later batches must keep extending it."""
    import re

    from crossbar_data_process_spark.streaming.ingest import (
        compact_dedup_index,
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)

    sink(_df(spark, [(80, "alpine meadow pollinator networks in early summer bloom")]), 0)
    sink(_df(spark, [(81, "urban heat island mitigation with reflective roofing materials")]), 1)
    sink(_df(spark, [(82, "fermentation chemistry of sourdough starter microbial cultures")]), 2)

    report = compact_dedup_index(spark, index_dir, before_batch=3)
    # seed(-1) + batches 0..2 -> one consolidated partition per table
    assert report["fingerprints"]["compacted_partitions"] == 4
    assert report["fingerprints"]["new_batch_id"] == -2
    import os
    parts = sorted(os.listdir(f"{index_dir}/fingerprints"))
    assert [p for p in parts if p.startswith("__batch_id=")] == ["__batch_id=-2"]

    # semantics preserved: dups of the seed AND of every compacted batch
    # are still flagged; novel lands and keeps extending the index
    sink(_df(spark, [
        (90, CORPUS[0][1]),          # seed dup
        (91, "alpine meadow pollinator networks in early summer bloom"),   # batch-0 dup
        (92, "fermentation chemistry of sourdough starter microbial cultures"),  # batch-2 dup
        (93, "novel post-compaction doc about glacial moraine soil formation"),
    ]), 3)
    landed = {r.doc_id for r in spark.read.parquet(gold_dir).collect()}
    assert landed == {80, 81, 82, 93}

    # and batch 3's own rows joined the index under its own partition
    parts = sorted(os.listdir(f"{index_dir}/fingerprints"))
    assert "__batch_id=3" in parts


def test_compaction_duplicate_rows_are_harmless_and_reconverge(spark, tmp_path):
    """Crash-safety contract: a crash between the consolidated write and
    the source deletes leaves DUPLICATED index rows. flag_against_index
    must still emit exactly one flag per dup doc (exact: groupBy-min;
    near: DISTINCT + min-struct), and re-running the compaction
    converges back to a single consolidated partition."""
    import os

    from crossbar_data_process_spark.streaming.ingest import (
        _write_batch_partition,
        compact_dedup_index,
        dedup_ingest_writer,
        seed_dedup_index,
    )

    index_dir = str(tmp_path / "index")
    gold_dir = str(tmp_path / "gold")
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    sink = dedup_ingest_writer(spark, index_dir, gold_dir, threshold=0.4)
    sink(_df(spark, [(80, "alpine meadow pollinator networks in early summer bloom")]), 0)
    compact_dedup_index(spark, index_dir, before_batch=1)

    # simulate the crash window: duplicate the consolidated rows under a
    # second negative partition (as if sources had not been deleted)
    for name in ("fingerprints", "buckets", "shingles"):
        path = f"{index_dir}/{name}"
        dup = spark.read.parquet(path).drop("__batch_id")
        _write_batch_partition(dup, path, -5)

    sink(_df(spark, [
        (90, CORPUS[0][1]),                                               # exact dup
        (91, "alpine meadow pollinator networks in early summer blooms"),  # near dup of batch 0
        (92, "a genuinely novel doc about river delta avulsion dynamics"),
    ]), 1)
    gold = spark.read.parquet(gold_dir).filter("__batch_id = 1")
    assert {r.doc_id for r in gold.collect()} == {92}
    # exactly one gold row per survivor — duplicated index rows did not
    # duplicate anything downstream
    assert gold.count() == 1

    # re-running the compaction converges the duplicates away
    compact_dedup_index(spark, index_dir, before_batch=2)
    parts = [p for p in os.listdir(f"{index_dir}/fingerprints")
             if p.startswith("__batch_id=")]
    assert parts == ["__batch_id=-6"]


# --- r10: manifest-committed compaction (gold-safe), recovery, readers ---


def _gold_rows(spark, gold_dir):
    return {r.doc_id for r in spark.read.parquet(gold_dir).collect()}


def _mk_gold(spark, tmp_path, n_batches=3):
    """A small batch-partitioned gold table written directly (one row per
    batch, ids 100+i) — the compaction protocol is layout-level, so the
    fixture does not need the full ingest pipeline."""
    from crossbar_data_process_spark.streaming.ingest import (
        _write_batch_partition,
    )

    gold_dir = str(tmp_path / "gold")
    for i in range(n_batches):
        _write_batch_partition(
            _df(spark, [(100 + i, f"doc body number {i}")]), gold_dir, i
        )
    return gold_dir


def test_compaction_noop_paths_return_none_batch_id(spark, tmp_path):
    """0 is a legitimate streaming batch id — the no-op paths must return
    new_batch_id=None, not 0 (r9 ADVICE)."""
    from crossbar_data_process_spark.streaming.ingest import (
        _write_batch_partition,
        compact_batch_partitions,
    )

    missing = compact_batch_partitions(spark, str(tmp_path / "nope"), 99)
    assert missing == {"compacted_partitions": 0, "rows": 0,
                       "new_batch_id": None}

    one = str(tmp_path / "one")
    _write_batch_partition(_df(spark, [(1, "x")]), one, 0)
    single = compact_batch_partitions(spark, one, 99)
    assert single["new_batch_id"] is None
    assert single["compacted_partitions"] == 0


def test_compact_gold_consolidates_exactly(spark, tmp_path):
    """compact_gold: one consolidated negative partition, same row set,
    manifest and staging both gone afterwards."""
    import os

    from crossbar_data_process_spark.streaming.ingest import (
        compact_gold,
        read_batch_table,
    )

    gold_dir = _mk_gold(spark, tmp_path, n_batches=4)
    before = _gold_rows(spark, gold_dir)
    report = compact_gold(spark, gold_dir, before_batch=3)
    assert report["compacted_partitions"] == 3
    assert report["new_batch_id"] == -1
    parts = sorted(p for p in os.listdir(gold_dir)
                   if p.startswith("__batch_id="))
    assert parts == ["__batch_id=-1", "__batch_id=3"]
    assert not any(p.startswith(".compaction_staging_")
                   or p == "_compaction_manifest.json"
                   for p in os.listdir(gold_dir))
    assert _gold_rows(spark, gold_dir) == before
    assert {r.doc_id for r in read_batch_table(spark, gold_dir).collect()} \
        == before


def test_compact_gold_dedups_by_id_during_consolidation(spark, tmp_path):
    """Defense-in-depth (r9 ADVICE): a gold table that acquired
    duplicated ids by external means (hand-copied partition) converges to
    one row per id instead of preserving the duplicates forever."""
    from crossbar_data_process_spark.streaming.ingest import (
        _write_batch_partition,
        compact_gold,
    )

    gold_dir = _mk_gold(spark, tmp_path, n_batches=3)
    # externally-introduced duplicate of batch 0's row
    _write_batch_partition(_df(spark, [(100, "doc body number 0")]),
                           gold_dir, 7)
    compact_gold(spark, gold_dir, before_batch=99)
    gold = spark.read.parquet(gold_dir)
    assert gold.count() == 3
    assert _gold_rows(spark, gold_dir) == {100, 101, 102}


def test_recover_compaction_pre_commit_crash_sweeps_staging(spark, tmp_path):
    """Crash BEFORE the manifest commit: the staging directory is an
    invisible orphan no reader ever saw — recovery deletes it and the
    sources stay authoritative."""
    import os

    from crossbar_data_process_spark.streaming.ingest import (
        read_batch_table,
        recover_compaction,
    )

    gold_dir = _mk_gold(spark, tmp_path)
    before = _gold_rows(spark, gold_dir)
    # simulate: consolidated rows staged, no manifest yet
    stage = f"{gold_dir}/.compaction_staging_-1"
    _df(spark, [(100, "doc body number 0"),
                (101, "doc body number 1")]).drop("text") \
        .write.parquet(stage)
    # plain + exactly-once readers both ignore the dot-dir
    assert _gold_rows(spark, gold_dir) == before
    assert {r.doc_id for r in read_batch_table(spark, gold_dir).collect()} \
        == before
    m = recover_compaction(spark, gold_dir)
    assert m is None
    assert not os.path.exists(stage)
    assert _gold_rows(spark, gold_dir) == before


def test_recover_compaction_rolls_forward_both_commit_windows(spark, tmp_path):
    """Crash AFTER the manifest commit, in both windows:

    (a) before the rename — staging + manifest present, target absent:
        read_batch_table keeps the sources (only live copy); recovery
        renames, deletes sources, drops the manifest;
    (b) after the rename, mid-deletes — both copies on disk: the plain
        read sees duplicates but read_batch_table excludes the
        manifest-named sources (exactly-once); recovery finishes the
        deletes."""
    import json
    import os

    from crossbar_data_process_spark.sources.writers import (
        _hadoop_write_text,
    )
    from crossbar_data_process_spark.streaming.ingest import (
        read_batch_table,
        recover_compaction,
    )

    # --- window (a): committed, not yet renamed
    gold_a = _mk_gold(spark, tmp_path / "a")
    before = {100, 101, 102}
    stage = f"{gold_a}/.compaction_staging_-1"
    spark.read.parquet(gold_a).filter("__batch_id < 2") \
        .drop("__batch_id").write.parquet(stage)
    _hadoop_write_text(
        spark, f"{gold_a}/_compaction_manifest.json",
        json.dumps({"new_batch_id": -1, "staging": ".compaction_staging_-1",
                    "sources": [0, 1]}),
    )
    got = {r.doc_id for r in read_batch_table(spark, gold_a).collect()}
    assert got == before  # target absent -> sources still authoritative
    m = recover_compaction(spark, gold_a)
    assert m["new_batch_id"] == -1
    parts = sorted(p for p in os.listdir(gold_a)
                   if p.startswith("__batch_id="))
    assert parts == ["__batch_id=-1", "__batch_id=2"]
    assert not os.path.exists(f"{gold_a}/_compaction_manifest.json")
    assert _gold_rows(spark, gold_a) == before

    # --- window (b): renamed, sources not yet deleted
    gold_b = _mk_gold(spark, tmp_path / "b")
    spark.read.parquet(gold_b).filter("__batch_id < 2") \
        .drop("__batch_id").write.parquet(f"{gold_b}/__batch_id=-1")
    _hadoop_write_text(
        spark, f"{gold_b}/_compaction_manifest.json",
        json.dumps({"new_batch_id": -1, "staging": ".compaction_staging_-1",
                    "sources": [0, 1]}),
    )
    # duplicates ARE on disk...
    assert spark.read.parquet(gold_b).count() == 5
    # ...but the exactly-once reader never shows a row twice
    ex = read_batch_table(spark, gold_b)
    assert ex.count() == 3
    assert {r.doc_id for r in ex.collect()} == before
    recover_compaction(spark, gold_b)
    parts = sorted(p for p in os.listdir(gold_b)
                   if p.startswith("__batch_id="))
    assert parts == ["__batch_id=-1", "__batch_id=2"]
    assert _gold_rows(spark, gold_b) == before


def test_next_compaction_recovers_crashed_predecessor(spark, tmp_path):
    """compact_batch_partitions starts by rolling forward any crashed
    predecessor, so an operator who only ever calls compaction still
    converges."""
    import json
    import os

    from crossbar_data_process_spark.sources.writers import (
        _hadoop_write_text,
    )
    from crossbar_data_process_spark.streaming.ingest import (
        compact_batch_partitions,
    )

    gold_dir = _mk_gold(spark, tmp_path, n_batches=4)
    stage = f"{gold_dir}/.compaction_staging_-1"
    spark.read.parquet(gold_dir).filter("__batch_id < 2") \
        .drop("__batch_id").write.parquet(stage)
    _hadoop_write_text(
        spark, f"{gold_dir}/_compaction_manifest.json",
        json.dumps({"new_batch_id": -1, "staging": ".compaction_staging_-1",
                    "sources": [0, 1]}),
    )
    report = compact_batch_partitions(spark, gold_dir, before_batch=4)
    # predecessor rolled forward (-1 <- {0,1}), then this run compacted
    # {-1, 2, 3} into -2
    assert report["new_batch_id"] == -2
    assert report["compacted_partitions"] == 3
    parts = sorted(p for p in os.listdir(gold_dir)
                   if p.startswith("__batch_id="))
    assert parts == ["__batch_id=-2"]
    assert _gold_rows(spark, gold_dir) == {100, 101, 102, 103}


def test_premetadata_index_is_warned_not_stamped(spark, tmp_path):
    """r9 ADVICE: an index that predates _index_meta.json has UNKNOWN LSH
    parameters — the writer must warn and leave it unstamped (stamping
    its own values would fabricate a 'verified' identity), while a writer
    that CREATES the index still stamps it."""
    import os
    import warnings

    from crossbar_data_process_spark.streaming.ingest import (
        dedup_ingest_writer,
        seed_dedup_index,
    )

    # pre-metadata index: seed, then delete the meta file
    index_dir = str(tmp_path / "index")
    seed_dedup_index(_df(spark, CORPUS), index_dir)
    os.remove(f"{index_dir}/_index_meta.json")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        sink = dedup_ingest_writer(spark, index_dir,
                                   str(tmp_path / "gold"), threshold=0.4)
    assert any("cannot be verified" in str(w.message) for w in caught)
    assert not os.path.exists(f"{index_dir}/_index_meta.json")
    # and the unstamped writer still works
    sink(_df(spark, [(80, "novel doc about tidal marsh sediment budgets")]), 0)
    assert _gold_rows(spark, str(tmp_path / "gold")) == {80}

    # fresh index: the creating writer stamps it
    fresh_index = str(tmp_path / "fresh_index")
    dedup_ingest_writer(spark, fresh_index, str(tmp_path / "gold2"))
    assert os.path.exists(f"{fresh_index}/_index_meta.json")
