"""Streaming inverted-postings maintenance — the incremental index
behind BM25 retrieval over a document stream.

Each micro-batch of (doc_id, text) reduces to its own postings
partial (doc_id, token, tf) plus per-doc lengths (doc_id, dl) and
lands idempotently under its batch partition (the replay-safe layout
shared with streaming/sketch.py). Documents arrive in exactly one
batch, so the union of partials IS the full index — no folding
arithmetic at all; the serving read is a plain union, and BM25 over
the store reuses the batch query's scoring code verbatim
(operators/retrieval.bm25_rank), which is what makes store→query
parity a driver-checkable fact rather than a pytest-only claim.

At 100 TB: per-batch state is the batch's own vocabulary-sized
partial; the store grows with the corpus (it IS the index) but every
BM25 read prunes it to query terms before anything aggregates.

Compaction (round 7) goes one step past the small-files discipline:
``compact_postings_store`` folds the replay-committed batches into a
``postings_compacted`` table PARTITIONED BY token bucket
(pmod(xxhash64(token), TOKEN_BUCKETS)), so a term probe prunes
FILES, not just rows — the read lists only the buckets its query
terms hash into. The live per-batch table keeps only batches newer
than the compacted high-water mark (recorded in the compacted
table's own ``_COVERED`` marker, atomic with its swap-publish, so a
crash between the two directory rewrites can never double-serve a
batch), and a replayed newest batch still rewrites exactly its own
live partition (storeio.split_for_compaction discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import tokens
from projet_etl_spark.streaming.storeio import write_batch_partition

POSTINGS_SCHEMA = "doc_id long, token string, tf long"
DOCLEN_SCHEMA = "doc_id long, dl long"


def postings_of_batch(batch_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, doclen) partials of one (doc_id, text) micro-batch
    — identical tokenization to the batch operator."""
    docs = batch_docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    post = (
        docs.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    doclen = docs.select("doc_id", F.size("toks").cast("long").alias("dl"))
    return post, doclen


def upsert_postings_batch(
    batch_docs: DataFrame, batch_id: int, store_path: str
) -> None:
    """foreachBatch body: land this batch's postings + doclen under
    their own partitions (idempotent on replay)."""
    import os

    docs = batch_docs.select("doc_id", "text").localCheckpoint()
    if docs.isEmpty():
        return
    post, doclen = postings_of_batch(docs)
    write_batch_partition(post, batch_id, os.path.join(store_path, "postings"))
    write_batch_partition(doclen, batch_id, os.path.join(store_path, "doclen"))


# token-bucket fan-out of the compacted index: files per probe-able
# unit; a query touching T distinct terms lists at most T buckets
TOKEN_BUCKETS = 16


def token_bucket(col):
    return F.pmod(F.xxhash64(col), F.lit(TOKEN_BUCKETS))


def _covered_batch(store_path: str) -> int:
    """Highest batch id folded into postings_compacted (-1 = none);
    written atomically with the compacted table's swap-publish.
    Resolved through ``live_read_path`` so a parked-aside compacted
    table reports ITS marker — the marker and the table bytes must
    come from the same directory or the live-batch union filter
    double-serves everything the parked table covers (r10)."""
    import os

    from projet_etl_spark.sources.ingest import live_read_path

    comp = live_read_path(os.path.join(store_path, "postings_compacted"))
    try:
        with open(os.path.join(comp, "_COVERED"), encoding="utf-8") as fh:
            return int(fh.read().strip())
    except OSError:
        return -1


def _read_compacted(spark: SparkSession, store_path: str) -> DataFrame:
    import os

    from projet_etl_spark.sources.ingest import live_read_path
    from projet_etl_spark.streaming.storeio import read_store

    # A crash between swap_publish's two renames leaves the ONLY copy
    # of the compacted table parked aside; resolving here (the shared
    # read entry; _covered_batch resolves identically) restores or
    # serves it before the missing-path branch could misread "no
    # compacted data yet" — without mutating under an IN-FLIGHT
    # publisher (r10: live_read_path, not recover_swap, on reads).
    comp = live_read_path(os.path.join(store_path, "postings_compacted"))
    return read_store(
        spark,
        comp,
        POSTINGS_SCHEMA + ", tbucket long",
        ["doc_id", "token", "tf", "tbucket"],
    )


def read_postings(
    spark: SparkSession, store_path: str, terms: list[str] | None = None
) -> DataFrame:
    """Postings = token-bucketed compacted table ∪ live batches above
    the compacted high-water mark. With ``terms``, the compacted side
    lists ONLY the buckets the terms hash into (file-level pruning —
    the probe cost is |buckets touched|, not |vocabulary|); bucket
    ids come from a bounded K-row Spark eval so the hash is the same
    xxhash64 the writer used. Empty only when the store has no data
    yet — unreadable/drifted stores raise (storeio discipline), so
    bm25_from_store can never silently serve an empty ranking off a
    broken index."""
    import os

    from projet_etl_spark.sources.ingest import live_read_path
    from projet_etl_spark.streaming.storeio import read_store

    # the live table is also swap-published (compaction's shrink step);
    # a crash between its two renames parks the only copy aside, and
    # reading the missing dir as "no data yet" would silently drop
    # every uncovered batch from the union below (read-safe resolve,
    # r10: never mutates under an in-flight publisher)
    live_dir = live_read_path(os.path.join(store_path, "postings"))
    comp = _read_compacted(spark, store_path)
    if terms:
        buckets = [
            r["b"]
            for r in spark.createDataFrame(
                [(t,) for t in sorted(set(terms))], "token string"
            )
            .select(token_bucket("token").alias("b"))
            .distinct()
            .collect()
        ]
        comp = comp.filter(F.col("tbucket").isin(buckets))
    live = read_store(
        spark,
        live_dir,
        POSTINGS_SCHEMA + ", batch long",
        ["doc_id", "token", "tf", "batch"],
    )
    cov = _covered_batch(store_path)
    return comp.select("doc_id", "token", "tf").unionByName(
        live.filter(F.col("batch") > cov).select("doc_id", "token", "tf")
    )


def read_doclen(spark: SparkSession, store_path: str) -> DataFrame:
    import os

    from projet_etl_spark.streaming.storeio import read_store

    return read_store(
        spark,
        os.path.join(store_path, "doclen"),
        DOCLEN_SCHEMA,
        ["doc_id", "dl"],
    )


def compact_postings_store(spark: SparkSession, store_path: str) -> int:
    """Fold the replay-committed live batches (every batch BELOW the
    highest id — the only one a restart can replay is the highest,
    see storeio) into the token-bucketed ``postings_compacted``
    table, then shrink the live table to the uncovered batches.

    Crash safety between the two directory rewrites: the compacted
    table's ``_COVERED`` high-water marker is written INSIDE the
    directory swap-publish publishes, so it is atomic with the data —
    readers filter the live table to ``batch > covered``, which makes
    the live shrink pure space reclamation (a crash after publish but
    before shrink double-STORES older batches, never double-SERVES
    them). Returns the covered batch id (-1 = nothing compacted)."""
    import os

    from projet_etl_spark.sources.ingest import recover_swap, swap_publish
    from projet_etl_spark.streaming.storeio import split_for_compaction

    post_dir = os.path.join(store_path, "postings")
    comp_dir = os.path.join(store_path, "postings_compacted")
    # recover BEFORE consulting _COVERED: an interrupted swap parks
    # the only copy of the compacted table aside, and reading the
    # high-water mark first would treat the store as never-compacted
    # and rebuild without the folded batches (permanent silent loss
    # once the stale aside is cleared).
    recover_swap(comp_dir)
    cov = _covered_batch(store_path)
    # recover the live dir BEFORE probing it: a parked-aside-only
    # state (crash between swap renames) must not read as "no
    # postings yet" now that readers no longer restore as a side
    # effect (live_read_path is non-mutating, r10)
    recover_swap(post_dir)
    if not os.path.exists(post_dir):
        return cov
    live = spark.read.parquet(post_dir)
    split = split_for_compaction(live.filter(F.col("batch") > cov))
    if split is None:
        return cov
    older, _newest = split
    new_cov = int(older.agg(F.max("batch")).first()[0])
    # hash-cluster on tbucket so each bucket directory gets ONE file
    # at this store size (file count = the probe's list cost); a
    # corpus-scale store raises the partition count past
    # TOKEN_BUCKETS — hashing on (tbucket, token) then splits hot
    # buckets across several files while keeping each file
    # single-bucket
    folded = (
        _read_compacted(spark, store_path)
        .select("doc_id", "token", "tf")
        .unionByName(older.select("doc_id", "token", "tf"))
        .withColumn("tbucket", token_bucket("token"))
        .repartition(TOKEN_BUCKETS, "tbucket")
        .localCheckpoint()
    )

    def _write(tmp: str) -> None:
        folded.write.mode("overwrite").partitionBy("tbucket").parquet(tmp)
        with open(os.path.join(tmp, "_COVERED"), "w", encoding="utf-8") as fh:
            fh.write(str(new_cov))

    if os.path.exists(comp_dir):
        swap_publish(comp_dir, _write)
    else:
        tmp = comp_dir + "._compacting"
        _write(tmp)
        os.rename(tmp, comp_dir)

    # space reclamation: drop covered batches from the live table
    # (hash on batch -> one file per remaining batch partition)
    keep = (
        live.filter(F.col("batch") > new_cov)
        .repartition(4, "batch")
        .localCheckpoint()
    )
    swap_publish(
        post_dir,
        lambda tmp: keep.write.mode("overwrite").partitionBy("batch").parquet(tmp),
    )
    return new_cov


def bm25_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """BM25 top-k served from the incremental index — the exact
    scoring code of the batch query over the store's postings, with
    the compacted table's read pruned to the buckets the query terms
    hash into (file-level pruning; a no-op before any compaction)."""
    from projet_etl_spark.operators.retrieval import _query_terms, bm25_rank

    terms = [t for _, t in _query_terms()]
    return bm25_rank(
        spark,
        read_postings(spark, store_path, terms=terms),
        read_doclen(spark, store_path),
    )
