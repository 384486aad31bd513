"""Structured Streaming surface (SURVEY.md §2.10 — new capability, not a
port: the reference is batch-only).

Design rule: every stream-safe batch operator (projections/filters P*,
scalar functions F*, watermarked dedup A3/A4, broadcast mapping joins J4)
runs unchanged under ``readStream`` — the transforms below take a DataFrame
that may be batch or streaming and return the same declarative plan. The
driver `events` table replays as a file stream for tests.

Scale notes: watermark bounds state (late data beyond the watermark is
dropped, state for expired windows/keys is evicted); dedup keys include the
event time so state scales with the watermark horizon, not history. Sinks
should use exactly-once file/Delta sinks with checkpointing on a real
cluster; tests use the in-memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over event parquet/json landings (the streaming
    analogue of the reference's bronze layer)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_dedup(
    events: DataFrame, watermark: str = "1 hour", keys: list[str] | None = None
) -> DataFrame:
    """Watermarked exactly-once dedup of event deliveries (streaming A3):
    duplicates within the watermark horizon are dropped; state for keys
    older than the watermark is evicted, bounding memory."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicates([*keys, "ts"])


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation (streaming A1):
    same output schema as the batch ``F.window`` groupBy over the same
    events, so batch and stream results are directly comparable in tests."""
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked SESSION-window aggregation (gap-based sessionization):
    ``F.session_window`` merges events per user into dynamic windows that
    close after ``gap`` of inactivity. State is per OPEN session, evicted
    once the watermark passes a session's end — unlike a batch
    lag-over-window formulation, which needs the whole history sorted per
    user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    before: str = "1 hour",
    after: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream INTERVAL join (streaming counterpart of
    the batch as-of/range-join family, q48/q56): pair left rows with right
    rows of the same ``key`` whose ``right_ts`` lies in
    ``[left_ts - before, left_ts + after]``.

    Both sides carry a watermark and the join condition bounds event-time
    distance, which is exactly what Spark needs to EVICT join state: a
    buffered row can be dropped once the other side's watermark passes its
    interval — without the time-range condition, stream-stream join state
    grows forever. Column names (other than ``key``) must be disjoint;
    rename upstream.
    """
    overlap = (set(left.columns) & set(right.columns)) - {key}
    if overlap:
        raise ValueError(
            f"left/right share non-key columns {sorted(overlap)}; rename "
            "one side first — the output carries both schemas"
        )
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {before}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {after}"))
    )
    return l.join(r, cond).drop(r[key])


def idempotent_gold_writer(path: str, partition_col: str = "__batch_id"):
    """`foreachBatch` sink with exactly-once GOLD semantics under replay.

    Structured Streaming guarantees at-least-once `foreachBatch` delivery:
    after a crash between "batch written" and "offsets committed", the SAME
    (batch_df, batch_id) is re-invoked on restart. A blind append would
    duplicate that batch in gold. This writer makes the replay a no-op by
    construction: every batch writes into its own ``partition_col=batch_id``
    partition with DYNAMIC partition overwrite, so re-processing batch N
    atomically replaces exactly partition N and never touches other
    batches — deterministic overwrite, not append, is what turns
    at-least-once delivery into an exactly-once table.

    Scale shape: one partition directory per micro-batch, no global
    rewrite; readers prune ``partition_col`` away (or aggregate across it).

    Use: ``stream.writeStream.foreachBatch(idempotent_gold_writer(path))``.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(partition_col, F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    return _write
