"""Sinks (SURVEY.md §2.1 S6/S7).

- Chunked CSV: the reference's memory-bound 100k-rows-per-file writer
  (uniprot.py:115-167) becomes a single ``maxRecordsPerFile`` option — the
  executors stream partitions out; nothing ever holds the whole table.
- BioCypher tuples: compatibility shim yielding (id, label, props) /
  (None, src, tgt, label, props) via ``toLocalIterator`` — only at the very
  edge, for consumers that insist on the reference's tuple protocol
  (drug.py:1191-1251, disease.py:1354-1407).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def _props_dict(value) -> dict:
    """Normalize a props column value to a plain dict: MapType arrives as a
    dict, StructType as a Row (which has no ``.items()`` — asDict it),
    NULL as empty."""
    if value is None:
        return {}
    if isinstance(value, Row):
        return value.asDict()
    return dict(value)


def write_chunked_csv(df: DataFrame, path: str, rows_per_file: int = 100_000) -> None:
    """S6 chunked CSV export (reference uniprot.py:115-167 ``n_rows_in_file``).
    Array columns are re-encoded as the reference's ``|``-joined strings at
    this boundary only (SURVEY §7.0)."""
    cols = []
    for f in df.schema.fields:
        if f.dataType.typeName() == "array":
            cols.append(F.array_join(F.col(f.name), "|").alias(f.name))
        else:
            cols.append(F.col(f.name))
    (
        df.select(*cols)
        .write.mode("overwrite")
        .option("header", True)
        .option("maxRecordsPerFile", rows_per_file)
        .csv(path)
    )


def biocypher_tuples(
    nodes: DataFrame | None = None, edges: DataFrame | None = None
) -> Iterator[tuple]:
    """S7: stream node/edge tuples without collecting the whole table on the
    driver. Node DF contract: (id, label, props:map/struct); edge DF:
    (src, tgt, label, props). Property NULLs are dropped per-row — the gold
    layer uses real NULLs; the reference's ``str(v) != "nan"`` filtering
    (drug.py:1239) happens only here at the export edge."""
    if nodes is not None:
        for row in nodes.toLocalIterator():
            props = {k: v for k, v in _props_dict(row["props"]).items() if v is not None}
            yield (row["id"], row["label"], props)
    if edges is not None:
        for row in edges.toLocalIterator():
            props = {k: v for k, v in _props_dict(row["props"]).items() if v is not None}
            yield (None, row["src"], row["tgt"], row["label"], props)


def _sharded(
    df: DataFrame, id_col: str, n_shards: int, salt: str
) -> DataFrame:
    """The deterministic global pseudo-shuffle shared by the parquet and
    JSONL shard writers: order key ``md5(salt || id)``, shard = leading 60
    bits mod n_shards, rows sorted by the key within their shard. One
    repartition on the shard id + a sortWithinPartitions — the minimum any
    global shuffle pays; each shard is written by exactly one task. The
    ``__key`` column is kept for callers that need the in-shard order to
    survive a row-to-text projection."""
    return (
        df.withColumn("__key", _shard_key(id_col, salt))
        .withColumn("shard", _shard_of(F.col("__key"), n_shards))
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__key", id_col)
    )


def _shard_key(id_col: str, salt: str):
    return F.md5(
        F.concat_ws("\x1f", F.lit(salt), F.col(id_col).cast("string"))
    )


def _shard_of(key, n_shards: int):
    return F.pmod(
        F.conv(F.substring(key, 1, 15), 16, 10).cast("long"),
        F.lit(n_shards),
    ).cast("int")


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "",
) -> dict[int, int]:
    """Training-data export: a DETERMINISTIC global pseudo-shuffle into a
    fixed shard layout — the final step that turns a curated corpus into
    the files a training job streams.

    Every row gets an order key ``md5(salt || id)``; its shard is the key's
    leading 60 bits mod ``n_shards`` and rows inside a shard are sorted by
    the key. Properties that matter for training reproducibility:

    - no RNG anywhere: the same corpus + salt yields byte-identical shard
      contents on any cluster size, input partitioning, or engine (md5 is
      portable, so DuckDB reproduces the draw digit for digit);
    - the hash order is a high-quality shuffle: adjacent source documents
      land in unrelated shards/positions, so sequential shard reads see a
      decorrelated stream (vary ``salt`` per epoch for a fresh permutation);
    - one repartition on the shard id + a sortWithinPartitions is the
      entire cost — the minimum any global shuffle pays; each shard is
      written by exactly one task, so readers get one file per shard dir.

    Returns {shard: row_count} (bounded by n_shards) and writes the same
    counts to ``<path>/manifest.json`` for the training job's sanity check.
    """
    import json

    out = _sharded(df, id_col, n_shards, salt).drop("__key")
    # static overwrite PINNED per-write: under session-level dynamic
    # partitionOverwriteMode a smaller re-export would leave stale prior
    # shards alive (and certified by the manifest) — the full-path wipe
    # is the contract here (r11 review round 5)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
        .parquet(path)
    )
    # count what actually landed, from the written files' footers — a
    # metadata-only read, instead of re-running the repartition+sort job
    counts = {
        int(r.shard): int(r.n)
        for r in out.sparkSession.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # Write the manifest through the Hadoop FileSystem API so the same
    # code works for s3a://, hdfs://, and local paths alike — a local
    # open() would write to a bogus local path for remote URIs (r7 review
    # finding). The parquet shards already go through this layer.
    payload = json.dumps(
        {"n_shards": n_shards, "salt": salt, "id_col": id_col, "shards": counts},
        sort_keys=True,
    )
    _hadoop_write_text(df.sparkSession, f"{path}/manifest.json", payload)
    return counts


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "",
    compression: str | None = None,
    manifest_counts: str = "output",
) -> dict[int, int]:
    """Training-data export as sharded JSONL — the interchange format
    tokenizer/training pipelines actually consume (one JSON object per
    line). Same deterministic md5 pseudo-shuffle and manifest contract as
    :func:`write_training_shards` (same corpus + salt ⇒ byte-identical
    shard files on any cluster size or input partitioning), with the row
    serialized via ``to_json(struct(*))`` — JVM-side, no Python in the
    write path.

    ``compression`` (e.g. ``"gzip"``) maps to the text sink's codec —
    at 100 TB the shards are network I/O for the training job, so
    compressed JSONL is the realistic shape. Returns {shard: line_count}
    and writes ``manifest.json`` next to the shards.

    ``manifest_counts``: ``"output"`` (default) re-reads the written
    shards to count — always consistent with the files, but it roughly
    DOUBLES export I/O (a full re-scan, re-gunzip included when
    compressed). For a deterministic source — parquet/files lineage, no
    unseeded ``sample()``/``rand()`` — pass ``"input"``: one column-pruned
    scan of the input (id arithmetic only), which the pinned static
    overwrite makes exactly equal to what landed. At scale, ``"input"``
    is the recommended path for deterministic lineage; ``"output"`` is
    the audit mode (r11 ADVICE). The manifest records which mode produced
    its counts (``counts_mode``) so the training job knows whether the
    numbers were verified against the files or recomputed from lineage.

    Determinism caveat that makes this NOT just ``.write.json()``: the
    DataFrameWriter's json sink writes one file per task with
    nondeterministic row order under AQE coalescing; this writer pins
    (shard, md5-key) order and one file per shard directory."""
    import json

    if manifest_counts not in ("output", "input"):
        # validate BEFORE the (destructive, mode=overwrite) export runs —
        # a typo'd mode must not rewrite the destination and then die
        # manifest-less (r11 review round 4)
        raise ValueError(
            f"manifest_counts must be 'output' or 'input', got "
            f"{manifest_counts!r}"
        )
    data_cols = df.columns
    out = _sharded(df, id_col, n_shards, salt).select(
        "shard", F.to_json(F.struct(*data_cols)).alias("value")
    )
    # static overwrite PINNED per-write (same rationale as
    # write_training_shards: stale prior-run shards must not survive a
    # re-export under session-level dynamic mode and get certified by
    # the fresh manifest — r11 review round 5)
    w = (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard")
    )
    if compression is not None:
        w = w.option("compression", compression)
    w.text(path)
    # Manifest counts: the manifest is the training job's sanity check of
    # what LANDED, so the default counts the WRITTEN output (always
    # consistent with the files, at the cost of one re-read — gunzip
    # included for compressed shards; the parquet sibling's footer-only
    # count has no text equivalent). ``manifest_counts="input"`` is the
    # cheap path for DETERMINISTIC lineage: one column-pruned scan of the
    # input (id arithmetic only, no Observation on the write hot path —
    # r11 review rounds 2/3), but a nondeterministic source (unseeded
    # sample(), rand() ids, data changing between jobs) would make it
    # disagree with the files — that divergence is exactly what the
    # default catches.
    if manifest_counts == "output":
        # read ONLY the shard=*/ partition dirs (basePath keeps partition
        # discovery, the glob keeps stray root files out of the scan,
        # where a filename-regexp shard would ANSI-crash on them; r11
        # review round 4). The write above pins static overwrite, so no
        # stale prior-run shard can survive into this count. An EMPTY
        # export writes no shard dirs at all — the glob would raise
        # PATH_NOT_FOUND, so probe first and emit an empty manifest
        # (r11 review round 5).
        jvm = df.sparkSession._jvm
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(df.sparkSession._jsc.hadoopConfiguration())
        has_shards = any(
            st.getPath().getName().startswith("shard=")
            for st in fs.listStatus(root)
        )
        counts = (
            {
                int(r.shard): int(r.n)
                for r in df.sparkSession.read.option("basePath", path)
                .text(f"{path}/shard=*")
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if has_shards
            else {}
        )
    else:
        counts = {
            int(r.shard): int(r.n)
            for r in df.select(
                _shard_of(_shard_key(id_col, salt), n_shards).alias("shard")
            )
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    payload = json.dumps(
        {
            "format": "jsonl",
            "compression": compression,
            "n_shards": n_shards,
            "salt": salt,
            "id_col": id_col,
            "counts_mode": manifest_counts,
            "shards": counts,
        },
        sort_keys=True,
    )
    _hadoop_write_text(df.sparkSession, f"{path}/manifest.json", payload)
    return counts


def _hadoop_write_text(spark, uri: str, text: str) -> None:
    """Overwrite ``uri`` with ``text`` via the Hadoop FileSystem for the
    URI's scheme (local, hdfs, s3a, …) — the filesystem Spark's own
    writers resolve, so manifests land next to their data everywhere."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(uri)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    target_files: int = 32,
) -> None:
    """Z-order-clustered parquet (the lakehouse OPTIMIZE ZORDER layout):
    rows are sorted by the bit-interleaving of the min-max-scaled cluster
    columns, so EVERY clustered column has narrow per-file min/max ranges
    — parquet footer stats then prune files/row-groups for predicates on
    ANY of them, where a plain sort only prunes its leading column.

    Mechanics: one tiny agg collects global (min, max) per column
    (2·|cols| scalars — never data-sized); each value scales linearly to
    ``bits`` bits; the z-value interleaves them scan-side as pure bit
    arithmetic (no UDF); ``repartitionByRange`` on the z-value + an
    in-partition sort gives ``target_files`` contiguous z-range files.
    Cost is the one range shuffle any clustering pays. NULLs scale to 0
    (they cluster together at the z-origin). ``bits * len(cols)`` must
    fit in 63 bits.
    """
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a signed 64-bit z-value")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor(
                    (F.coalesce(F.col(c).cast("double"), F.lit(mn)) - F.lit(mn))
                    / F.lit(span)
                    * top
                ).cast("long"),
            )
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(s, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
            )
    (
        df.withColumn("__z", z)
        .repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
