"""Incremental DSIR bucket statistics.

The DSIR importance table (operators/dsir.py) is learned from two
corpus-wide token counts per hash bucket — target and raw. Both are
ADDITIVE, so a stream can maintain them the same way the daily-count
store maintains event counts: each documents micro-batch lands its
own (bucket, ct, cr) partial under its own partition (replay-safe —
a replayed batch rewrites exactly its own partition), and the serve
path folds the bounded store instead of rescanning the corpus.

At 100 TB this is the difference between recomputing corpus token
statistics on every corpus delta and touching each document ONCE as
it arrives: per-batch state is at most DSIR_BUCKETS rows regardless
of arrival volume, and the fold reads |batches| x DSIR_BUCKETS rows —
never the text history. The per-batch partial is computed by the SAME
shared core as the batch table build (dsir.bucket_partials), so the
incremental path cannot drift from the rescan path — the parity the
``dsir-store`` registry row certifies through the batch query's own
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.operators.dsir import bucket_partials
from projet_etl_spark.streaming.storeio import write_batch_partition

DSIR_STORE_SCHEMA = "bucket long, ct long, cr long"


def upsert_dsir_batch(
    doc_batch: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: land this batch's (bucket, ct, cr) partials
    under its own partition (idempotent on replay)."""
    docs = doc_batch.select("source", "text").localCheckpoint()
    if docs.isEmpty():
        return
    write_batch_partition(bucket_partials(docs), batch_id, store_path)


def read_dsir_counts(spark: SparkSession, store_path: str) -> DataFrame:
    """Current (bucket, ct, cr) corpus statistics: partials folded
    across batch partitions. Routed through the shared
    storeio.read_store: a BROKEN store (corrupt footer, permission
    error, schema drift) RAISES instead of feeding the importance
    table silently-empty counts — an all-zero table would weight
    every document identically and the resampling order would be
    confidently wrong; only the legitimately-empty cases read as
    empty, and an interrupted compaction swap is recovered first."""
    from projet_etl_spark.streaming.storeio import read_store

    raw = read_store(
        spark, store_path, DSIR_STORE_SCHEMA, ["bucket", "ct", "cr"]
    )
    return raw.groupBy("bucket").agg(
        F.sum("ct").cast("long").alias("ct"),
        F.sum("cr").cast("long").alias("cr"),
    )
