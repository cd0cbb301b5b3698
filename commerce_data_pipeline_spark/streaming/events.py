"""Streaming event analytics (SURVEY.md §2e "Streaming").

The reference is strictly batch over daily snapshots
(/root/reference/src/pipeline/pipeline.py:76; README.md:13) — there is no
streaming code to mirror. This module is the engine's forward path: the
same `events` schema processed incrementally with Structured Streaming,
designed so every transform also runs identically in batch (pass a batch
DataFrame and the same code path works — that's how the unit tests and the
DuckDB oracle exercise the semantics).

Design choices for scale:
- Watermarks bound state: late events beyond `watermark` are dropped, so
  state size is O(active keys × window), not O(history).
- `session_window` (native gap-merged sessions) replaces the batch
  lag+cumsum sessionization — the built-in operator keeps per-user session
  state in the state store and emits closed sessions on watermark advance;
  no custom applyInPandasWithState needed for this shape.
- Daily tumbling windows reproduce the reference's day-batch outputs: a
  `window(ts, '1 day')` aggregation over the stream equals the batch
  run_daily rollup once the day's watermark passes (SURVEY.md §2e).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from commerce_data_pipeline_spark.schemas import EVENTS


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events schema (new parquet files under
    `path` are discovered per micro-batch)."""
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def daily_event_counts(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day windows: the streaming equivalent of the reference's
    daily batch unit (one output row per (day, event_type) once final).
    Works identically on batch input (watermark is a no-op there)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 day").alias("day_window"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("day_window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_window_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
) -> DataFrame:
    """G2, streaming-native: gap-merged sessions via the built-in
    `session_window`. One row per closed session with bounds and counts.

    Batch/streaming parity: on a batch DataFrame this produces the same
    sessions as operators.analytics.sessionize (an event exactly `gap`
    after the previous one extends the session in both implementations:
    session_window merges half-open [ts, ts+gap) intervals, and the batch
    path starts a new session only when the gap strictly exceeds the
    threshold).
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("sw"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            user_col,
            "session_start",
            "session_end",
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop redundant deliveries of the same key
    (at-least-once sources re-deliver on retry; training pipelines need
    exactly-once event feeds).

    `dropDuplicatesWithinWatermark` bounds state to keys seen within the
    watermark window — a plain dropDuplicates on a stream keeps every key
    forever, which at 100 TB/day is an unbounded state store. Duplicates
    arriving later than the watermark are NOT caught (they're also dropped
    as late data upstream); batch `dedup.exact_dedup` over bronze is the
    backstop.

    Works on batch input too (falls back to plain dropDuplicates —
    identical result on a bounded frame).
    """
    if not events.isStreaming:
        return events.dropDuplicates(list(key_cols))
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def maintain_daily_gold(
    events: DataFrame,
    gold_path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Incremental gold maintenance via foreachBatch: each micro-batch
    recomputes the (day, event_type) aggregate rows for ONLY the days it
    touched and dynamic-partition-overwrites those partitions of the gold
    parquet table. Readers always see complete day aggregates.

    This is the streaming upsert pattern for stores without row-level
    merge: state holds the running aggregate (Spark's update-mode output),
    the sink granularity is a partition. Late data within the watermark
    updates its day in place on the next batch; checkpointing makes the
    rewrite idempotent under micro-batch replay — replaying batch N
    overwrites the same partitions with the same content.
    """
    agg = daily_event_counts(events)  # watermarked, update-mode state

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            batch_df.withColumn("day_part", F.col("day"))
            .write.mode("overwrite")
            .partitionBy("day_part")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(gold_path)
        )

    writer = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_to_bronze(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Streaming sink mirroring the bronze layout: append parquet
    partitioned by event date. availableNow processes the backlog then
    stops — the streaming equivalent of a batch backfill (P8)."""
    out = df.withColumn("event_day", F.date_format("ts", "yyyy-MM-dd"))
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_day")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
