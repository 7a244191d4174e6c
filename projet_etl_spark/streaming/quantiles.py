"""Streaming bottom-K-by-hash sample maintenance — the micro-batch
twin of operators/sketches.q_quantiles_hash_sample's sample stage.

The bottom-K sketch is mergeable by construction: the bottom-K of a
union IS the bottom-K of the per-batch bottom-Ks. Each micro-batch
reduces to its own K-row partial (TakeOrdered by the portable md5
hash — zero exchange before the K-row gather), lands idempotently
under its batch partition (the replay-safe layout shared with
streaming/sketch.py), and the serving read folds the partials with
one more TakeOrdered. The folded sample — and therefore every decile
estimate computed from it — is BIT-IDENTICAL to the batch operator
over the same corpus, which the parity test asserts row-for-row.

At 100 TB: per-batch state is K rows however much arrives, no
unbounded value-level state anywhere; the serving fold reads
K x n_batches rows (compact the store by re-writing its own
bottom-K when n_batches grows — same discipline as the neardedup
store compaction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import portable_hash60
from projet_etl_spark.operators.sketches import QSAMPLE_K
from projet_etl_spark.streaming.storeio import write_batch_partition

SAMPLE_SCHEMA = "hk long, value double"


def bottomk_of_batch(batch_events: DataFrame) -> DataFrame:
    """(hk, value) bottom-K partial of one (event_id, value)
    micro-batch — identical hash + ordering to the batch operator."""
    return (
        batch_events.select(
            portable_hash60(F.col("event_id").cast("string")).alias("hk"),
            "value",
        )
        .orderBy("hk", "value")
        .limit(QSAMPLE_K)
    )


def upsert_bottomk_batch(
    batch_events: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: land this batch's partial sample under its
    own partition (idempotent on replay)."""
    ev = batch_events.select("event_id", "value").localCheckpoint()
    if ev.isEmpty():
        return
    write_batch_partition(bottomk_of_batch(ev), batch_id, store_path)


def read_sample(spark: SparkSession, store_path: str) -> DataFrame:
    """The current merged sample: bottom-K across all partials.
    Empty only when the store legitimately has no data; an unreadable
    or drifted store raises (storeio.read_store discipline)."""
    from projet_etl_spark.streaming.storeio import read_store

    parts = read_store(spark, store_path, SAMPLE_SCHEMA, ["hk", "value"])
    return parts.orderBy("hk", "value").limit(QSAMPLE_K)


def read_quantiles(spark: SparkSession, store_path: str) -> DataFrame:
    """Decile estimates from the merged sample — the exact
    computation the batch operator applies to its own sample."""
    from projet_etl_spark.operators.sketches import decile_estimates

    return decile_estimates(read_sample(spark, store_path))


def compact_sample_store(spark: SparkSession, store_path: str) -> int:
    """Maintenance hook: collapse the replay-committed per-batch
    partials (every batch BELOW the highest id — Structured Streaming
    can only ever replay the newest batch, see storeio) into ONE
    K-row bottom-K partition under the reserved batch id -1, keeping
    the newest batch's partition verbatim. The sketch is its own
    compaction — folded state shrinks to K rows — and the reserved id
    is one no replay can dynamic-overwrite, so a crash-replay of the
    newest batch rewrites exactly its own partition and nothing else.
    Published via the atomic-swap discipline of sources.ingest; safe
    while the stream is stopped or between triggers. Returns the row
    count of the compacted store."""
    import os

    from projet_etl_spark.sources.ingest import recover_swap, swap_publish
    from projet_etl_spark.streaming.storeio import (
        RESERVED_COMPACT_BATCH,
        split_for_compaction,
    )

    # recover BEFORE the existence probe (a crashed swap parks the
    # only copy aside; the r10 non-mutating read path no longer
    # restores it for us)
    recover_swap(store_path)
    if not os.path.exists(store_path):
        return 0
    df = spark.read.parquet(store_path)
    split = split_for_compaction(df)
    if split is None:
        return df.count() if df.columns else 0
    older, newest = split
    merged = (
        older.select("hk", "value")
        .orderBy("hk", "value")
        .limit(QSAMPLE_K)
        .withColumn("batch", F.lit(RESERVED_COMPACT_BATCH))
        .coalesce(1)
    )
    out = merged.unionByName(
        newest.select("hk", "value", "batch").coalesce(1)
    ).localCheckpoint()
    swap_publish(
        store_path,
        lambda tmp: out.write.mode("overwrite")
        .partitionBy("batch")
        .parquet(tmp),
    )
    return spark.read.parquet(store_path).count()
