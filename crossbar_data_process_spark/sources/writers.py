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


def _fs_and_path(spark, uri: str):
    """The Hadoop FileSystem for ``uri``'s scheme (local, hdfs, s3a, …) —
    the one Spark's own readers and writers resolve — and ``uri`` as a
    Hadoop ``Path``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(uri)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _hadoop_write_text(spark, uri: str, text: str) -> None:
    """Overwrite ``uri`` with ``text`` through :func:`_fs_and_path`, so
    manifests and stamps land next to their data everywhere."""
    fs, jpath = _fs_and_path(spark, uri)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _hadoop_read_text(spark, uri: str) -> str:
    fs, jpath = _fs_and_path(spark, uri)
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _partition_value_int(dirname: str, path) -> int:
    """Parse the integer value of a ``key=value`` partition directory name,
    failing with a DIAGNOSABLE error on non-integer values. The poisonous
    case is ``cluster=__HIVE_DEFAULT_PARTITION__``: rows with a NULL
    partition key (e.g. a NULL vector assigned a NULL cluster by a writer
    without input validation) land there, after which a bare ``int()``
    dies with 'invalid literal' and no path anywhere. Rejecting — not
    skipping — is deliberate: such a leaf holds REAL rows of broken
    provenance; silently dropping them would turn a data bug into a
    partial corpus."""
    key, val = dirname.split("=", 1)
    try:
        return int(val)
    except ValueError:
        raise ValueError(
            f"partition directory {path} has a non-integer {key}= value "
            f"{val!r} — a __HIVE_DEFAULT_PARTITION__ leaf means rows with "
            f"a NULL {key} landed (e.g. a NULL vector assigned a NULL "
            "cluster by a writer without input validation); inspect the "
            "leaf and rebuild or remove it"
        ) from None
