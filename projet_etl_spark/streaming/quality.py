"""Streaming quality-model budget maintenance — the micro-batch twin
of operators/quality_model.q_corpus_quality_budget.

Scoring is stateless per document (the model rides as a broadcast
table), so each micro-batch scores itself with the SAME
``score_documents`` plan as the batch query and reduces to its
per-(lang, keep) document/token partial sums. The only cross-batch
state is those partials, and they are ADDITIVE — so the store is the
replay-safe accumulation layout the near-dedup store uses: one
partition per micro-batch, written with dynamic partition overwrite
(a replayed batch rewrites exactly its own partition instead of
double-counting), and ``read_budget`` folds the partials with one
tiny aggregation (langs x 2 grain). ``compact_budget`` collapses
drained-batch partitions like streaming/neardedup.compact_store.

At 100 TB this is the canonical incremental-metrics shape: per-batch
partial aggregates land append-only and idempotently; the serving
read is a bounded-size rollup over partials, never a rescan of the
document history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import tokens
from projet_etl_spark.operators.quality_model import score_documents
from projet_etl_spark.streaming.storeio import write_batch_partition

BUDGET_SCHEMA = "lang string, keep boolean, n_docs long, n_tokens long"


def budget_of_batch(batch_docs: DataFrame) -> DataFrame:
    """(lang, keep, n_docs, n_tokens) partial sums of one (doc_id,
    text, lang) micro-batch — the same join-then-reduce as the batch
    query, over batch-local rows only."""
    scored = score_documents(batch_docs.select("doc_id", "text")).select(
        "doc_id", "keep"
    )
    toks = batch_docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    return (
        toks.join(scored, "doc_id")
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def upsert_budget_batch(
    batch_docs: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: write this batch's partial sums under its
    own partition (idempotent on replay)."""
    docs = batch_docs.select("doc_id", "text", "lang").localCheckpoint()
    if docs.isEmpty():
        return
    write_batch_partition(budget_of_batch(docs), batch_id, store_path)


def read_budget(spark: SparkSession, store_path: str) -> DataFrame:
    """The current budget: partial sums folded across batches (empty
    frame when no batch has written yet; an unreadable or drifted
    store raises — storeio.read_store discipline)."""
    from projet_etl_spark.streaming.storeio import read_store

    parts = read_store(
        spark,
        store_path,
        BUDGET_SCHEMA,
        ["lang", "keep", "n_docs", "n_tokens"],
    )
    return (
        parts.groupBy("lang", "keep")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "keep")
    )


def compact_budget(spark: SparkSession, store_path: str) -> int:
    """Collapse the replay-committed per-batch partials (every batch
    BELOW the highest id) into ONE pre-folded partition under the
    reserved batch id -1, keeping the newest batch's partition
    verbatim — for a SUM-fold store this split is load-bearing twice
    over: a replayed newest batch can neither clobber the rollup
    (its dynamic overwrite only hits its own id) nor double-count
    (the rollup never includes it). Same swap discipline as
    neardedup.compact_store; run between triggers. Returns files
    written."""
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
    parts = spark.read.parquet(store_path)
    split = split_for_compaction(parts)
    if split is None:
        return 0
    older, newest = split
    merged = (
        older.groupBy("lang", "keep")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .withColumn("batch", F.lit(RESERVED_COMPACT_BATCH))
        .coalesce(1)
    )
    out = merged.unionByName(newest.select(*merged.columns).coalesce(1)).localCheckpoint()
    swap_publish(
        store_path,
        lambda tmp: out.write.mode("overwrite").partitionBy("batch").parquet(tmp),
    )
    return 1
