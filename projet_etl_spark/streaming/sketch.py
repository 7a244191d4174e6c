"""Streaming count-min maintenance — the micro-batch twin of
operators/sketches.q_token_freq_cms's sketch-build stage.

Count-min cells are ADDITIVE integer partials, which is the entire
point of a mergeable sketch: each micro-batch reduces its tokens to
its own bounded (row, bucket) partial sketch, lands it idempotently
under its batch partition (the replay-safe accumulation layout shared
with streaming/quality.py and neardedup.py), and the serving read
folds partials with one bounded aggregation — the folded cells are
BIT-IDENTICAL to the batch sketch over the same corpus (integer sums
in any order), which the parity test asserts cell-for-cell.

At 100 TB this is how frequency state actually survives a stream:
per-batch partial sketches of fixed size (CMS_ROWS x CMS_WIDTH)
however much text arrives, no unbounded token-level state anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import tokens
from projet_etl_spark.operators.sketches import _row_ids, cms_bucket
from projet_etl_spark.streaming.storeio import write_batch_partition

CELLS_SCHEMA = "r int, bucket long, c long"


def cms_of_batch(batch_docs: DataFrame) -> DataFrame:
    """(r, bucket, c) partial sketch of one (doc_id, text) micro-batch
    — identical cell expressions to the batch operator."""
    toks = batch_docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    occ = toks.select("tok", F.explode(_row_ids()).alias("r"))
    return (
        occ.select("r", cms_bucket(F.col("r"), F.col("tok")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def upsert_cms_batch(batch_docs: DataFrame, batch_id: int, store_path: str) -> None:
    """foreachBatch body: land this batch's partial sketch under its
    own partition (idempotent on replay)."""
    docs = batch_docs.select("text").localCheckpoint()
    if docs.isEmpty():
        return
    write_batch_partition(cms_of_batch(docs), batch_id, store_path)


def read_cms(spark: SparkSession, store_path: str) -> DataFrame:
    """The current sketch: partial cells folded across batches.
    Routed through the shared storeio.read_store (round-9): a BROKEN
    store raises instead of serving an all-zero sketch (a CMS that
    silently under-counts everything is worse than one that fails);
    only the legitimately-empty cases read as empty."""
    from projet_etl_spark.streaming.storeio import read_store

    parts = read_store(spark, store_path, CELLS_SCHEMA, ["r", "bucket", "c"])
    return parts.groupBy("r", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )


def estimate_counts(cms: DataFrame, toks: DataFrame) -> DataFrame:
    """Probe the folded sketch for a (tok) frame: min over rows of the
    matching cells — the standard CMS point query, as a join against
    the bounded cell table."""
    probes = toks.select("tok", F.explode(_row_ids()).alias("r")).select(
        "tok", "r", cms_bucket(F.col("r"), F.col("tok")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["r", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_n"))
    )
