"""Incremental daily event counts feeding the drift detectors.

The monitoring composition a production pipeline actually runs: the
stream maintains (event_type, day, n) PARTIAL counts — additive, so
the store is the replay-safe one-partition-per-micro-batch layout of
streaming/quality.py (a replayed batch rewrites exactly its own
partition) — and the batch-side detectors (events-cusum-drift,
daily-bollinger, daily-ewma) run over the folded store through the
SAME shared core as the raw-events queries, so the incremental path
can never drift from the rescan path.

At 100 TB this splits the cost exactly where it belongs: the stream
touches each event once to bump a days×types-sized partial; the
detector reads the bounded store, never the event history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.streaming.storeio import write_batch_partition

DAILY_SCHEMA = "event_type string, day date, n long"


def daily_counts_of_batch(ev_batch: DataFrame) -> DataFrame:
    """(event_type, day, n) partial counts of one events micro-batch."""
    return (
        ev_batch.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def upsert_daily_counts_batch(
    ev_batch: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: land this batch's partials under its own
    partition (idempotent on replay)."""
    ev = ev_batch.select("event_type", "ts").localCheckpoint()
    if ev.isEmpty():
        return
    write_batch_partition(daily_counts_of_batch(ev), batch_id, store_path)


def read_daily_counts(spark: SparkSession, store_path: str) -> DataFrame:
    """Current (event_type, d, n) daily counts: partials folded
    across batch partitions — the detectors' input frame (empty when
    no batch has written yet). Routed through the shared
    storeio.read_store (round-9): a BROKEN store (corrupt footer,
    permission error, schema drift) raises instead of feeding the
    drift detectors a silently-empty count table; only the
    legitimately-empty cases read as empty, and an interrupted
    compaction swap is recovered first."""
    from projet_etl_spark.streaming.storeio import read_store

    raw = read_store(
        spark, store_path, DAILY_SCHEMA, ["event_type", "day", "n"]
    )
    return (
        raw.groupBy("event_type", F.col("day").alias("d"))
        .agg(F.sum("n").cast("long").alias("n"))
    )
