"""Incremental URL-frontier store — the crawl-side twin of the
keep-first-fetch export (operators/domains.py q_url_canonical_fetches,
"the table a crawler consults before refetching"), given the same
store discipline as every other LLM-pipeline table (r12, r11 verdict
item 4).

The stream maintains (canonical_url, snap) PARTIAL fetch aggregates —
min first doc_id and fetch count per pair, both additive/mergeable —
in the replay-safe one-partition-per-micro-batch layout of
streaming/quality.py (a replayed batch rewrites exactly its own
partition; the storeio writer lease of sources/ingest.py guards every
mutation). The batch read folds partials to URL grain: the fold is
exactly q_url_canonical_fetches' aggregate, so the store query shares
that query's DuckDB oracle and a green driver row proves
stream-vs-rescan parity end to end.

At 100 TB this is the split a crawler needs: each fetch touches the
store once as a |distinct (url, snap)|-bounded partial (never the
fetch history), refetch checks are a point lookup against the folded
frontier, and :func:`compact_frontier_store` bounds the partial
count at |distinct (url, snap)| between snapshots (the partials are
mergeable, so the fold is read-invariant by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions import web
from projet_etl_spark.operators.domains import SNAPSHOTS
from projet_etl_spark.streaming.storeio import write_batch_partition

FRONTIER_SCHEMA = "url string, snap long, first_doc_id long, n long"


def frontier_of_batch(docs_batch: DataFrame) -> DataFrame:
    """(url, snap, first_doc_id, n) partial frontier rows of one
    documents micro-batch: the same canonicalized fixture crawl log
    as the batch query (web.crawl_url -> web.canonical_url), reduced
    to per-(url, snapshot) min/count — both mergeable across batches
    regardless of how fetches were chunked."""
    fetches = docs_batch.select(
        web.canonical_url(web.crawl_url(F.col("doc_id"))).alias("url"),
        "doc_id",
        (F.col("doc_id") % SNAPSHOTS).cast("long").alias("snap"),
    )
    return fetches.groupBy("url", "snap").agg(
        F.min("doc_id").cast("long").alias("first_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def upsert_frontier_batch(
    docs_batch: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: land this batch's partials under its own
    partition (idempotent on replay — the quality.py layout)."""
    docs = docs_batch.select("doc_id").localCheckpoint()
    if docs.isEmpty():
        return
    write_batch_partition(frontier_of_batch(docs), batch_id, store_path)


def compact_frontier_store(spark: SparkSession, store_path: str) -> int:
    """Maintenance hook (r13, r12 verdict item 3): fold the
    replay-committed per-batch partials — every batch BELOW the
    highest id; Structured Streaming can only ever replay the newest
    (see storeio) — into ONE merged partial per (url, snap) under the
    reserved ``batch = -1`` partition, keeping the newest batch
    verbatim. The partials are mergeable by construction (min of
    first_doc_ids, sum of counts), so the merge IS the partial
    algebra and the folded store reads back identically; between
    snapshots this bounds the partial count at |distinct (url, snap)|
    instead of growing with the batch count. Published via the
    atomic-swap + writer-lease discipline of sources.ingest; safe
    while the stream is stopped or between triggers. Returns the row
    count of the compacted store."""
    import os

    from projet_etl_spark.sources.ingest import recover_swap, swap_publish
    from projet_etl_spark.streaming.storeio import (
        RESERVED_COMPACT_BATCH,
        split_for_compaction,
    )

    # recover BEFORE the existence probe (a crashed swap parks the
    # only copy aside; the non-mutating read path won't restore it)
    recover_swap(store_path)
    if not os.path.exists(store_path):
        return 0
    df = spark.read.parquet(store_path)
    split = split_for_compaction(df)
    if split is None:
        return df.count() if df.columns else 0
    older, newest = split
    merged = (
        older.groupBy("url", "snap")
        .agg(
            F.min("first_doc_id").cast("long").alias("first_doc_id"),
            F.sum("n").cast("long").alias("n"),
        )
        .select("url", "snap", "first_doc_id", "n")
        .withColumn("batch", F.lit(RESERVED_COMPACT_BATCH))
        .coalesce(1)
    )
    out = merged.unionByName(
        newest.select("url", "snap", "first_doc_id", "n", "batch").coalesce(1)
    ).localCheckpoint()
    swap_publish(
        store_path,
        lambda tmp: out.write.mode("overwrite")
        .partitionBy("batch")
        .parquet(tmp),
    )
    return spark.read.parquet(store_path).count()


def read_url_frontier(spark: SparkSession, store_path: str) -> DataFrame:
    """The folded frontier: one row per canonical URL with its kept
    fetch (earliest doc_id), total fetch count and snapshot spread —
    identical to the batch keep-first-fetch export by construction
    (min of mins, sum of counts, distinct snaps over (url, snap)
    partials that partition the fetch set). Routed through
    storeio.read_store so a broken store raises instead of reading
    as an empty frontier (the crawler would refetch the whole web)."""
    from projet_etl_spark.streaming.storeio import read_store

    raw = read_store(
        spark,
        store_path,
        FRONTIER_SCHEMA,
        ["url", "snap", "first_doc_id", "n"],
    )
    return raw.groupBy("url").agg(
        F.min("first_doc_id").cast("long").alias("first_doc_id"),
        F.sum("n").cast("long").alias("n_fetches"),
        F.countDistinct("snap").cast("long").alias("n_snapshots"),
    )
