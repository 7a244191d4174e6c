"""Streaming IVF index maintenance — the micro-batch twin of the
coarse-assignment stage in operators/similarity.q_ann_ivf_topk.

The deployment shape of a vector index that stays fresh: the cell
centroids are FIXED (trained offline — here the deterministic label
medoids of the base corpus), and each arriving micro-batch of
vectors is assigned to its nearest cell with the SAME
``coarse_assign`` plan as the batch build, then appended to the
index under its own batch partition (the replay-safe accumulation
layout shared with the other streaming stores). A vector arrives
once, so the folded read is a plain union; the parity test pins the
folded assignment equal to the batch index row-for-row.

At 100 TB: per-batch cost is |batch| x |cells| against a broadcast
centroid table — never a rescan of the corpus; re-training centroids
is the offline job that rebuilds the index, not this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.vectors import spark_norm2
from projet_etl_spark.operators.similarity import (
    _centroids,
    _emb_with_norm,
    coarse_assign,
)
from projet_etl_spark.streaming.storeio import write_batch_partition

ASSIGN_SCHEMA = "vec_id long, cell long"


def index_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed cell centroids (offline-trained index geometry)."""
    return _centroids(_emb_with_norm(spark, sf_dir))


def assign_batch(batch_vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell) of one (vec_id, embedding) micro-batch against
    the broadcast centroid table."""
    base = batch_vecs.select(
        "vec_id", F.col("embedding").alias("v")
    ).withColumn("n2", spark_norm2("v"))
    return coarse_assign(base, F.broadcast(cents)).select("vec_id", "cell")


def upsert_assignment_batch(
    batch_vecs: DataFrame, batch_id: int, store_path: str, cents: DataFrame
) -> None:
    """foreachBatch body: land this batch's assignments under its own
    partition (idempotent on replay)."""
    vecs = batch_vecs.select("vec_id", "embedding").localCheckpoint()
    if vecs.isEmpty():
        return
    write_batch_partition(assign_batch(vecs, cents), batch_id, store_path)


def read_assignment(spark: SparkSession, store_path: str) -> DataFrame:
    """The current index: every vector's cell (empty frame when no
    batch has written yet). Routed through the shared
    storeio.read_store (round-9): an UNREADABLE store — corrupt
    footer, permission error, schema drift — RAISES instead of
    serving an empty index, because an empty ann-ivf-store ranking
    built from a broken index is silent data loss (the exact class
    storeio's docstring condemns); only the legitimately-empty cases
    (no path yet, zero-row batch markers) read as empty, and an
    interrupted compaction swap is recovered first."""
    from projet_etl_spark.streaming.storeio import read_store

    return read_store(spark, store_path, ASSIGN_SCHEMA, ["vec_id", "cell"])
