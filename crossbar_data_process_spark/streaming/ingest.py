"""Streaming incremental-dedup ingest — the production form of the daily
100 TB pipeline: micro-batches of documents are deduplicated within the
batch, flagged against a PERSISTED dedup index
(``operators/textdedup.dedup_index`` silver: fingerprints + LSH band
buckets + shingle sets), and only survivors land in gold; the survivors'
index rows extend the silver so later batches (and later days) dedup
against everything that ever landed.

Replay idempotence (the same contract as
``pipelines.idempotent_gold_writer``): Structured Streaming delivers
``foreachBatch`` at-least-once — after a crash between "batch written"
and "offsets committed" the SAME (batch_df, batch_id) re-runs. Every
write here goes into the batch's own ``__batch_id=N`` partition with
dynamic partition overwrite, and the index read EXCLUDES the current
batch's partition, so a replayed batch (a) never flags against its own
half-written rows and (b) atomically replaces exactly its own gold and
index partitions. At-least-once delivery becomes an exactly-once gold
table and an exactly-once index.

Scale shape (the honest cost model): per batch, every SHUFFLE and all
O(n²)-risk work is sized by the BATCH — the fp check broadcasts the
batch's fingerprints against the index (the index side is scanned
map-side, never shuffled), the bucket probe and shingle verify touch
index rows only where the batch collides. The residual corpus-sized
term is one sequential columnar SCAN of the compact index per batch
(fingerprints ≈ 30 bytes/doc, 2–3 orders smaller than the corpus) —
the standard key-table-dedup shape; nothing is data-sized on the
driver. The batch-per-day partition layout accumulates small files
linearly in batch count; :func:`compact_batch_partitions` /
:func:`compact_dedup_index` / :func:`compact_gold` consolidate
committed batches behind a manifest-committed rename protocol
(crash-safe for BOTH the index and gold: no crash window leaves
duplicated rows visible to a reader that goes through
:func:`read_batch_table` — see ``compact_batch_partitions`` for the
window-by-window argument; duplicated index rows would additionally be
harmless to ``flag_against_index`` even without it).

Versus the reference: the reference re-downloads and re-dedups whole
sources per run (`edge_data/ppi.py:100-151` drop_duplicates over fresh
pulls); an incremental, replay-safe ingest has no counterpart — engine
charter (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crossbar_data_process_spark.sources.writers import (
    _fs_and_path,
    _hadoop_read_text,
    _hadoop_write_text,
    _partition_value_int,
)

BATCH_COL = "__batch_id"
_INDEX_TABLES = ("fingerprints", "buckets", "shingles")
_META_FILE = "_index_meta.json"
_MANIFEST_FILE = "_compaction_manifest.json"
_STAGING_PREFIX = ".compaction_staging_"


def _write_index_meta(
    spark: SparkSession, index_dir: str, n: int, num_hashes: int, bands: int
) -> None:
    import json

    _hadoop_write_text(
        spark,
        f"{index_dir}/{_META_FILE}",
        json.dumps({"n": n, "num_hashes": num_hashes, "bands": bands}),
    )


def _check_index_meta(
    spark: SparkSession, index_dir: str, n: int, num_hashes: int, bands: int
) -> bool:
    """LSH parameters are part of the index's identity: band keys built
    with different (n, num_hashes, bands) NEVER collide with the stored
    buckets, so a mismatched writer would silently stop flagging
    near-dups — corrupt gold with no error anywhere. The seed persists
    the parameters next to the index; the writer refuses to probe with
    different ones. A pre-metadata index (no ``_index_meta.json``) is
    accepted for back-compat (the caller warns and leaves it unstamped —
    stamping the writer's own parameters onto an index of unknown
    identity would convert a one-time undetected mismatch into a
    permanently 'verified' wrong identity; r9 ADVICE). Returns whether a
    metadata file was present and verified."""
    import json

    fs, jpath = _fs_and_path(spark, f"{index_dir}/{_META_FILE}")
    if not fs.exists(jpath):
        return False
    want = json.loads(_hadoop_read_text(spark, f"{index_dir}/{_META_FILE}"))
    got = {"n": n, "num_hashes": num_hashes, "bands": bands}
    if want != got:
        raise ValueError(
            f"dedup index at {index_dir} was built with {want} but this "
            f"writer is configured with {got} — band keys would never "
            "collide and near-dups would silently stop being flagged; "
            "re-seed the index or match the parameters"
        )
    return True


def seed_dedup_index(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    seed_batch_id: int = -1,
) -> None:
    """Build the three-table silver index from an existing corpus and
    persist it under ``index_dir`` in the batch-partitioned layout the
    streaming writer appends to (the corpus seeds partition ``-1``)."""
    from crossbar_data_process_spark.operators.textdedup import dedup_index

    idx = dedup_index(
        corpus, text_col=text_col, id_col=id_col,
        n=n, num_hashes=num_hashes, bands=bands,
    )
    _write_index_tables(idx, index_dir, seed_batch_id)
    _write_index_meta(corpus.sparkSession, index_dir, n, num_hashes, bands)


def dedup_ingest_writer(
    spark: SparkSession,
    index_dir: str,
    gold_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.2,
):
    """``foreachBatch`` factory. Per (batch_df, batch_id):

    1. within-batch dedup: exact (keep the min-id row per fingerprint)
       then near (LSH pairs → cluster survivors) — a micro-batch is small,
       so this is batch-sized work;
    2. flag the remaining docs against the persisted index EXCLUDING this
       batch's own partition (replay safety);
    3. survivors → ``gold_dir`` partition ``__batch_id=N`` (dynamic
       overwrite);
    4. ``dedup_index(survivors)`` → the same partition of each index
       table, so the next batch deduplicates against them.

    Use: ``stream.writeStream.foreachBatch(dedup_ingest_writer(...))``.
    Semantics note: gold ends up with no exact duplicates and no near-dup
    pairs above ``threshold`` — within a batch, across batches, and
    against the seeded corpus — with the min-id witness surviving
    everywhere (the ``resolve_neardups`` convention).
    """
    from crossbar_data_process_spark.functions.text import doc_fingerprint
    from crossbar_data_process_spark.operators.textdedup import (
        _lsh_index_and_buckets,
        _lsh_pairs_from_index,
        dedup_index,
        flag_against_index,
        resolve_neardups,
    )

    # fail FAST on an LSH-parameter mismatch with the seeded index (at
    # factory time, not mid-stream). Stamp the parameters ONLY when this
    # writer is the one creating the index (no index directory yet): a
    # pre-metadata index was built with UNKNOWN parameters, and stamping
    # the writer's own values onto it would turn a one-time undetected
    # mismatch into a permanently 'verified' wrong identity (r9 ADVICE) —
    # warn and leave it unstamped instead; re-seed to stamp it.
    verified = _check_index_meta(spark, index_dir, n, num_hashes, bands)
    fs, index_jpath = _fs_and_path(spark, index_dir)
    if not fs.exists(index_jpath):
        _write_index_meta(spark, index_dir, n, num_hashes, bands)
    elif not verified:
        import warnings

        warnings.warn(
            f"dedup index at {index_dir} predates {_META_FILE} — its LSH "
            "parameters (n, num_hashes, bands) cannot be verified against "
            "this writer's; leaving it unstamped. Re-seed with "
            "seed_dedup_index to stamp a verified identity.",
            stacklevel=2,
        )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # a micro-batch from a file source arrives with one partition per
        # FILE — a single-file batch serializes the fingerprint/window
        # map-side work onto one core (measured 1.7x the whole sink wall:
        # 11-12 s vs 6.9 s at 2k docs). textdedup._spread can't see this
        # frame (foreachBatch hands a bare LogicalRDD: no inputFiles, no
        # shuffle nodes), but that same bareness makes the direct RDD
        # partition probe safe here — there are no upstream shuffle stages
        # for plan-conversion to materialize (the _spread hazard).
        sc = batch_df.sparkSession.sparkContext
        target = sc.defaultParallelism
        if batch_df.rdd.getNumPartitions() < max(2, target // 4):
            batch_df = batch_df.repartition(target)
        # micro-batch: pin it once. NON-eager (r16 optimization round):
        # an eager localCheckpoint is a dedicated job per batch; lazy
        # folds the materialization into the first consuming job (the
        # component probe / gold write) at identical once-computed
        # semantics — 3 fewer job barriers per batch with `prepped` and
        # `survivors` below on the same footing.
        batch_df = batch_df.localCheckpoint(eager=False)

        # 1a. within-batch exact dedup (min-id row per fingerprint). The
        # fingerprint column is KEPT on the survivors (r16 optimization
        # round): the flag stage and the index delta need the same
        # per-doc fingerprint again — carrying it forward replaces two
        # full re-hash passes of the batch text. Pinned so that every
        # exchange in `prepped`'s plan is a leaf stage: with this window
        # shuffle below the singles anti-join, AQE planned that join's
        # shuffle or dropped the join depending on which stage finished
        # first, and the per-batch job count varied.
        w = Window.partitionBy("__fp").orderBy(F.asc(id_col))
        exact_kept = (
            batch_df.withColumn("__fp", doc_fingerprint(text_col))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=False)
        )
        # 1b. within-batch near dedup (pairs → min-id cluster survivors).
        # The batch is tokenized/shingled/bucketed ONCE here (r16): the
        # materialized (idx, buckets) tables feed the pair stage, the
        # flag's novel side, AND the index delta below — all three are
        # row-wise deterministic per doc, so semi-join filtering these
        # tables is value-identical to the former per-stage recomputes
        # (3 tokenize passes per batch → 1).
        idx, buckets = _lsh_index_and_buckets(
            exact_kept, text_col, id_col, n, num_hashes, bands
        )
        pairs = _lsh_pairs_from_index(idx, buckets, threshold)
        kept_ids = resolve_neardups(exact_kept, pairs, id_col=id_col).select(
            id_col
        )
        prepped = exact_kept.join(kept_ids, id_col, "left_semi").localCheckpoint(
            eager=False
        )

        # 2. flag against the persisted index, excluding our own partition
        delta_template = dedup_index(
            prepped.drop("__fp"), text_col=text_col, id_col=id_col,
            n=n, num_hashes=num_hashes, bands=bands,
        )
        index = {
            name: _read_batch_partitions(
                spark, f"{index_dir}/{name}",
                delta_template[name].schema, exclude_batch=batch_id,
            )
            for name in _INDEX_TABLES
        }
        pre_fp = prepped.select(
            F.col(id_col).alias("doc"), F.col("__fp").alias("fp")
        )
        flags = flag_against_index(
            prepped, index, text_col=text_col, id_col=id_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
            pre={"fingerprints": pre_fp, "shingles": idx, "buckets": buckets},
        )
        survivors = prepped.join(
            flags.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=False)

        # 3. gold partition (replay overwrites exactly this batch)
        _write_batch_partition(survivors.drop("__fp"), gold_dir, batch_id)

        # 4. extend the index under the same partition key — filtered
        # views of the batch's one set of per-doc tables (value-identical
        # to dedup_index(survivors): same row-wise expressions, same
        # parameters, restricted to the surviving docs; schemas pinned by
        # the delta_template reads above)
        surv_ids = survivors.select(F.col(id_col).alias("doc"))
        delta = {
            "fingerprints": survivors.select(
                F.col(id_col).alias("doc"), F.col("__fp").alias("fp")
            ),
            "buckets": buckets.join(surv_ids, "doc", "left_semi"),
            "shingles": idx.join(surv_ids, "doc", "left_semi"),
        }
        _write_index_tables(delta, index_dir, batch_id)

    return _sink


def _write_index_tables(
    idx: dict[str, DataFrame], index_dir: str, batch_id: int
) -> None:
    """Write the three index tables with independent writes overlapped
    (guide §2.6 — the r16 optimization round): the tables share only the
    lazy-checkpointed shingle index, whose FIRST consumer must run alone
    (the ``parallel.run_concurrently`` race-hygiene contract), so the
    ``shingles`` write (= the checkpoint itself) pairs with the
    checkpoint-independent ``fingerprints`` write, and ``buckets``
    (derived FROM the materialized checkpoint) follows overlapped with
    nothing — 3 serial write walls become ~max+1. Output is byte-wise
    the same tables at the same paths."""
    from crossbar_data_process_spark.parallel import run_concurrently

    run_concurrently(
        [
            lambda: _write_batch_partition(
                idx["shingles"], f"{index_dir}/shingles", batch_id
            ),
            lambda: _write_batch_partition(
                idx["fingerprints"], f"{index_dir}/fingerprints", batch_id
            ),
        ]
    )
    _write_batch_partition(idx["buckets"], f"{index_dir}/buckets", batch_id)


def recover_compaction(spark: SparkSession, path: str) -> dict | None:
    """Complete (roll forward) a compaction that crashed mid-commit, or
    sweep an uncommitted staging directory. Idempotent; called
    automatically at the start of :func:`compact_batch_partitions` and
    safe to call any time. Returns the rolled-forward manifest dict, or
    ``None`` when there was nothing to recover.

    The commit protocol (see :func:`compact_batch_partitions`) makes the
    single-file manifest creation the commit point, so recovery is purely
    mechanical:

    - manifest present, target partition absent → the crash hit between
      commit and rename: rename staging → target, then finish the source
      deletes and drop the manifest;
    - manifest present, target present → the crash hit mid-deletes:
      finish the deletes, drop the manifest;
    - no manifest → any ``.compaction_staging_*`` directory is an
      UNCOMMITTED write that no reader ever saw (the ``.``-prefix hides
      it from parquet discovery): delete it.
    """
    import json

    fs, root = _fs_and_path(spark, path)
    if not fs.exists(root):
        return None
    manifest_uri = f"{path}/{_MANIFEST_FILE}"
    _, mpath = _fs_and_path(spark, manifest_uri)
    if fs.exists(mpath):
        m = json.loads(_hadoop_read_text(spark, manifest_uri))
        _, staging = _fs_and_path(spark, f"{path}/{m['staging']}")
        _, target = _fs_and_path(
            spark, f"{path}/{BATCH_COL}={m['new_batch_id']}"
        )
        if not fs.exists(target) and fs.exists(staging):
            fs.rename(staging, target)
        for i in m["sources"]:
            _, src = _fs_and_path(spark, f"{path}/{BATCH_COL}={i}")
            fs.delete(src, True)
        fs.delete(mpath, False)
        return m
    for st in fs.listStatus(root):
        if st.getPath().getName().startswith(_STAGING_PREFIX):
            fs.delete(st.getPath(), True)
    return None


def read_batch_table(spark: SparkSession, path: str) -> DataFrame:
    """Exactly-once reader for a batch-partitioned table (gold or index):
    the batch partitions, minus any partitions an in-flight compaction
    has already superseded. During a compaction's only duplicate-bearing
    window (consolidated partition renamed into place, source deletes
    not yet finished) the manifest names the superseded sources — they
    are excluded here, so a reader NEVER sees a row twice in any crash
    window. Before the rename the consolidated rows are invisible (the
    staging directory's ``.``-prefix hides it from parquet discovery)
    and the sources are still authoritative, so the source partitions
    alone are already exact.

    The read set and the exclusion decision derive from ONE directory
    snapshot: the batch leaves are enumerated in a single ``listStatus``
    pass, the manifest is consulted AFTER, and the consolidated
    partition counts as live only if it appeared in that same listing
    (r10 ADVICE — a reader that listed files first and probed
    ``fs.exists(target)`` later could list the sources pre-rename, see
    the target live post-rename, and silently drop the compacted rows).
    With the snapshot rule every crash window is exact; a compaction
    COMMITTING CONCURRENTLY with the read can at worst delete a listed
    source before Spark opens it — a loud missing-path error to retry,
    never a silent wrong result."""
    import json

    fs, root = _fs_and_path(spark, path)
    batches: dict[int, str] = {}
    if fs.exists(root):
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(f"{BATCH_COL}="):
                batches[_partition_value_int(name, st.getPath())] = (
                    st.getPath().toString()
                )
    if not batches:
        # missing table / no landed partitions: same error surface as a
        # plain read of the directory
        return spark.read.parquet(path)
    df = spark.read.option("basePath", path).parquet(
        *[p for _, p in sorted(batches.items())]
    )
    _, mpath = _fs_and_path(spark, f"{path}/{_MANIFEST_FILE}")
    if fs.exists(mpath):
        m = json.loads(_hadoop_read_text(spark, f"{path}/{_MANIFEST_FILE}"))
        # only exclude once the rename made the consolidated copy live
        # IN THIS SNAPSHOT; before that the sources are the only copy.
        # Exclusion as a partition filter: planning-time pruned, the
        # superseded leaves are never opened
        if m["new_batch_id"] in batches:
            df = df.filter(~F.col(BATCH_COL).isin(m["sources"]))
    return df


def compact_batch_partitions(
    spark: SparkSession,
    path: str,
    before_batch: int,
    target_files: int = 8,
    dedup_cols: list[str] | None = None,
) -> dict[str, int | None]:
    """Consolidate every ``__batch_id`` partition with id < ``before_batch``
    into ONE new partition — the small-file compaction a batch-per-day
    layout needs at scale: years of daily batches are thousands of
    directories of kilobyte files, and both parquet footer-open cost and
    driver listing scale with file count, not bytes. Returns
    ``{"compacted_partitions": k, "rows": n, "new_batch_id": id}``;
    on the no-op paths (missing table, fewer than 2 qualifying
    partitions) ``new_batch_id`` is ``None`` — 0 is a legitimate
    streaming batch id, so a sentinel id would be ambiguous (r9 ADVICE).

    Correctness and crash-safety — the manifest-committed rename
    protocol (safe for GOLD as well as the index, not merely
    "duplicates are harmless"; r9 ADVICE):

    1. the consolidated rows are written to a ``.``-prefixed STAGING
       directory parquet discovery never lists — a crash here leaves an
       invisible orphan that :func:`recover_compaction` sweeps;
    2. a single-file MANIFEST (``_compaction_manifest.json``: new id,
       staging name, source ids) is created — THE commit point;
    3. staging is atomically renamed to ``__batch_id=<new_id>``;
    4. the source partitions are deleted; 5. the manifest is removed.

    Window-by-window: before 2 nothing changed for readers; between 2
    and 3 the sources are still the only live copy (target absent →
    :func:`read_batch_table` keeps them); between 3 and 5 both copies
    exist on disk but the manifest names the superseded sources and
    :func:`read_batch_table` excludes them — no reader observes a row
    twice, and :func:`recover_compaction` (run automatically on the next
    compaction) rolls the deletes forward. ``dedup_cols`` additionally
    drops duplicate rows (by those columns, arbitrary survivor among
    identical batches) during consolidation as defense-in-depth for
    tables that acquired duplicates by external means.

    - the consolidated partition gets a MORE-NEGATIVE id than any existing
      partition (min(ids) − 1, so ≤ −2) — it can never collide with a real
      streaming batch id (≥ 0) and is therefore never excluded by the
      replay-safety filter, exactly like the seed's −1;
    - PRECONDITION (document to operators): ``before_batch`` must not
      exceed the stream's last COMMITTED batch id. Structured Streaming
      only ever replays the in-flight uncommitted batch; compacting a
      batch that could still replay would break the exclude-own-partition
      replay guarantee (the replayed rows would sit in the consolidated
      partition and flag against themselves). Compacting committed
      batches is always safe — for the index (via
      :func:`compact_dedup_index`) and for gold (via
      :func:`compact_gold`) alike.
    """
    import json

    _noop = {"compacted_partitions": 0, "rows": 0, "new_batch_id": None}
    fs, root = _fs_and_path(spark, path)
    if not fs.exists(root):
        return _noop
    recover_compaction(spark, path)  # finish any crashed predecessor first
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(f"{BATCH_COL}="):
            ids.append(_partition_value_int(name, st.getPath()))
    to_compact = sorted(i for i in ids if i < before_batch)
    if len(to_compact) < 2:
        return _noop
    new_id = min(ids) - 1

    df = spark.read.parquet(path).filter(
        F.col(BATCH_COL).isin(to_compact)  # partition-pruned read
    ).drop(BATCH_COL)
    if dedup_cols:
        df = df.dropDuplicates(dedup_cols)
    consolidated = df.repartition(target_files)
    # the row count rides the WRITE via observe() — a separate count()
    # would read and shuffle the whole to-compact corpus a second time
    # (r10 review)
    from pyspark.sql import Observation

    obs = Observation("compaction_rows")
    consolidated = consolidated.observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    staging_name = f"{_STAGING_PREFIX}{new_id}"
    # 1. invisible staging write (plain parquet — a partition directory
    # holds bare files; the partition value lives in the dir name)
    consolidated.write.mode("overwrite").parquet(f"{path}/{staging_name}")
    n = int(obs.get["rows"])
    # 2. COMMIT: the manifest's single-file creation
    _hadoop_write_text(
        spark,
        f"{path}/{_MANIFEST_FILE}",
        json.dumps(
            {"new_batch_id": new_id, "staging": staging_name,
             "sources": to_compact}
        ),
    )
    # 3.-5. roll forward: rename, delete sources, drop the manifest
    _, staging = _fs_and_path(spark, f"{path}/{staging_name}")
    _, target = _fs_and_path(spark, f"{path}/{BATCH_COL}={new_id}")
    fs.rename(staging, target)
    for i in to_compact:
        _, src = _fs_and_path(spark, f"{path}/{BATCH_COL}={i}")
        fs.delete(src, True)
    _, mpath = _fs_and_path(spark, f"{path}/{_MANIFEST_FILE}")
    fs.delete(mpath, False)
    return {
        "compacted_partitions": len(to_compact),
        "rows": n,
        "new_batch_id": new_id,
    }


def compact_gold(
    spark: SparkSession,
    gold_dir: str,
    before_batch: int,
    id_col: str = "doc_id",
    target_files: int = 8,
) -> dict[str, int | None]:
    """Compact the GOLD table's committed batch partitions. Rides the
    same manifest-committed protocol as the index compaction — plus
    ``dedup_cols=[id_col]``, so even a gold table that somehow acquired
    duplicated ids (e.g. partitions copied in by hand) converges to one
    row per id instead of preserving the duplicates forever (r9
    ADVICE). Same ``before_batch`` ≤ last-committed-batch precondition."""
    return compact_batch_partitions(
        spark, gold_dir, before_batch, target_files, dedup_cols=[id_col]
    )


def compact_dedup_index(
    spark: SparkSession,
    index_dir: str,
    before_batch: int,
    target_files: int = 8,
) -> dict[str, dict[str, int]]:
    """Run :func:`compact_batch_partitions` over the three index tables.
    Same precondition: ``before_batch`` ≤ the stream's last committed
    batch id."""
    return {
        name: compact_batch_partitions(
            spark, f"{index_dir}/{name}", before_batch, target_files
        )
        for name in _INDEX_TABLES
    }


def _write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    (
        df.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def _read_batch_partitions(
    spark: SparkSession, path: str, schema, exclude_batch: int
) -> DataFrame:
    """Read one index table, pruning away ``exclude_batch``'s partition;
    an index that does not exist yet reads as empty (first batch against
    an unseeded index).

    The missing-index case is decided by an EXPLICIT Hadoop FileSystem
    existence probe (the same layer ``sources/writers.py`` writes
    manifests through), not by swallowing read errors: a transient
    storage failure, a permissions problem, or a corrupt footer must
    FAIL the micro-batch (Structured Streaming will retry/replay it)
    rather than silently read an empty index and let duplicates land in
    gold (r8 ADVICE)."""
    from pyspark.sql.types import LongType, StructField, StructType

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return spark.createDataFrame([], schema)
    # Structured Streaming batch ids are 64-bit longs — the partition
    # field must read back as LongType or a batch_id beyond int32 breaks
    # partition parsing and the exclude filter (r8 ADVICE).
    with_batch = StructType(
        list(schema.fields) + [StructField(BATCH_COL, LongType())]
    )  # a fresh StructType — StructType.add would mutate the caller's schema
    df = spark.read.schema(with_batch).parquet(path)
    return df.filter(F.col(BATCH_COL) != exclude_batch).drop(BATCH_COL)
