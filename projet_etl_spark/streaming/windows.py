"""Structured Streaming surface over the events table.

The reference has no streaming (SURVEY.md §2.11); this is the
engine's beyond-reference extension: the same windowed aggregations
as operators/events_windows.py, expressed as streaming plans —
readStream → watermark → window → sink.

Batch/stream parity is the design invariant: the batch forms are
oracle-checked against DuckDB, and the streaming tests assert the
streaming output equals the batch output on the same data (the
strongest check available for a surface a SQL oracle can't express).

Scale notes: watermarks bound state; tumbling/sliding windows use
partial aggregation per micro-batch; session windows merge state
per key — at cluster scale the groupBy key (event_type / user_id)
is the shuffle key, same as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
# round-5+ fixture vintage: ts is parquet timestamp[us] (NTZ)
EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table (same ts conversion as
    sources.tables.events, for either fixture vintage: TIMESTAMP(NANOS)
    read as long nanos, or plain timestamp[us] read as NTZ).
    ``max_files_per_trigger`` bounds each micro-batch (source option —
    watermark advances between batches)."""
    from pyspark.sql.types import LongType

    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev: str | None = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    # probe one footer batch-side to pick the matching stream schema
    # (streams must declare their schema up front)
    nanos = isinstance(
        spark.read.parquet(path).schema["ts"].dataType, LongType
    )
    if not nanos:
        # micros vintage: nothing at execution time needs the legacy
        # conf — restore it so the probe can't leak session-wide (the
        # sources.tables.events discipline). The nanos vintage
        # deliberately LEAVES it set: the running stream re-reads
        # long-typed nanos files at every micro-batch.
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    schema = EVENTS_RAW_SCHEMA if nanos else EVENTS_TS_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(path)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-hour per-type event counts + value sums (streaming form of
    operators.events_windows.q_events_tumbling_1h)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1h windows sliding every 30min (streaming form of
    q_events_sliding_1h_30m)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str):
    """Drain all available input into an in-memory sink; returns the
    finished StreamingQuery (caller reads table ``query_name``)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def hourly_ohlc(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming candlestick bars: per-hour per-type open/high/low/
    close/volume (streaming form of
    operators/events_windows.q_events_ohlc_hourly). The batch query
    picks open/close by row_number over (ts, event_id); the streaming
    aggregate states the same choice as min_by/max_by over the
    (unix_micros(ts), event_id) struct — the composite key makes the
    tie-break deterministic where a bare min_by(value, ts) would not
    be, and struct ordering is supported inside watermarked streaming
    aggregations (no sort state, just a running extremum per window).
    """
    key = F.struct(F.unix_micros(F.col("ts")).alias("us"), F.col("event_id").alias("eid"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.round(F.sum("value"), 6).alias("volume"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_events",
        )
    )
