"""Streaming MinHash-LSH near-duplicate detection — the micro-batch
twin of operators/dedup.q_dedup_minhash_lsh.

Each micro-batch of documents is shingled and banded with the SAME
signature pipeline as the batch query (operators/dedup.doc_shingles +
_minhash_band_keys, so the two paths cannot drift), then candidate
pairs come from two equi-joins on (band, key):

  - batch x batch   (near-dups arriving together), and
  - batch x STORE   (near-dups of anything seen in earlier batches),

where the store is a parquet table of every prior batch's band keys —
new documents never re-signature the history. Verification is the
same exact-jaccard check as the batch path; only the texts of the
candidate OLD documents are re-shingled (a broadcast-semi-filtered
read of the doc store, bounded by the candidate count, not the
corpus).

State thus lives in two append-style parquet tables (band keys +
texts), both partitioned by micro-batch id and written with dynamic
partition overwrite: a replayed batch (foreachBatch is at-least-once
after a crash) rewrites exactly its own partition instead of
duplicating it, and the "history" side of the candidate join filters
``batch < current`` so a replay can never pair a document with
itself. At 100 TB the store is the corpus signature index any
incremental dedup service maintains; the per-batch cost is
O(batch x matching buckets), never O(corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _jaccard_pairs,
    _minhash_band_keys,
    doc_shingles,
)
from projet_etl_spark.streaming.storeio import write_batch_partition

PAIR_SCHEMA = "doc_a long, doc_b long, jaccard double"


def near_dedup_batch(
    batch_docs: DataFrame,
    batch_id: int,
    store_path: str,
    pairs_path: str,
    threshold: float = JACCARD_THRESHOLD,
) -> None:
    """foreachBatch body: emit verified near-dup pairs touching this
    micro-batch, then fold its signatures + texts into the store."""
    spark = batch_docs.sparkSession
    docs = batch_docs.select("doc_id", "text").localCheckpoint()
    if docs.isEmpty():
        return
    sh_new = doc_shingles(docs).localCheckpoint()
    bands_new = _minhash_band_keys(sh_new).localCheckpoint()

    bands_store = os.path.join(store_path, "bands")
    docs_store = os.path.join(store_path, "docs")
    left = bands_new.select(F.col("doc_id").alias("doc_a"), "band", "key")
    cands = (
        left.join(
            bands_new.select(F.col("doc_id").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    sh_verify = sh_new
    if os.path.exists(bands_store):
        old_bands = spark.read.parquet(bands_store).filter(
            F.col("batch") < F.lit(int(batch_id))
        )
        cross = (
            left.join(
                old_bands.select(F.col("doc_id").alias("doc_b"), "band", "key"),
                ["band", "key"],
            )
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
        )
        cands = cands.unionByName(cross)
        # re-shingle ONLY the old docs that landed in a candidate
        # bucket — the store read is semi-join-bounded, not a scan
        old_cand_ids = (
            cross.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cross.select(F.col("doc_b").alias("doc_id")))
            .join(
                docs.select(F.col("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            .distinct()
        )
        old_docs = (
            spark.read.parquet(docs_store)
            .filter(F.col("batch") < F.lit(int(batch_id)))
            .join(F.broadcast(old_cand_ids), "doc_id", "left_semi")
            .select("doc_id", "text")
        )
        sh_verify = sh_new.unionByName(doc_shingles(old_docs))
    cands = cands.distinct().localCheckpoint()

    if cands.isEmpty():
        pairs = spark.createDataFrame([], PAIR_SCHEMA)
    else:
        sh_verify = sh_verify.localCheckpoint()
        pairs = _jaccard_pairs(sh_verify, pairs=cands).filter(
            F.col("jaccard") >= F.lit(threshold)
        )
    write_batch_partition(
        pairs.select("doc_a", "doc_b", "jaccard"), batch_id, pairs_path
    )
    write_batch_partition(bands_new, batch_id, bands_store)
    write_batch_partition(docs, batch_id, docs_store)


def compact_store(
    spark: SparkSession,
    store_path: str,
    pairs_path: str | None = None,
    target_rows_per_file: int = 1_000_000,
) -> dict[str, int]:
    """Maintenance hook: collapse the per-micro-batch partitions of
    the signature/doc stores (and optionally the pairs sink) into ONE
    merged partition under the reserved batch id -1, written as
    ceil(rows / target) files via the atomic swap discipline of
    sources.ingest (small-files compaction — a long-lived stream
    otherwise accretes one partition per micro-batch forever and scan
    planning drowns in footers).

    Replay safety (round-7 hardening): only batches BELOW the highest
    id are folded — Structured Streaming creates batch N+1 only after
    batch N's offsets commit, so the single batch a restart can ever
    replay is the highest one present, whose partition is kept
    verbatim; its replay then dynamic-overwrites exactly its own id.
    The reserved merged id -1 is one no micro-batch can emit, so no
    replay can clobber the rollup (the old max(batch) keying broke
    precisely when the newest batch had written its partition but
    crashed before the checkpoint commit). The history filter
    ``batch < current`` still sees the merged partition (-1 < any
    real batch id).

    Run while the stream is STOPPED or between triggers. Returns
    {table_path: files_written}.
    """
    from projet_etl_spark.sources.ingest import recover_swap, swap_publish
    from projet_etl_spark.streaming.storeio import (
        RESERVED_COMPACT_BATCH,
        split_for_compaction,
    )

    out: dict[str, int] = {}
    tables = [os.path.join(store_path, "bands"), os.path.join(store_path, "docs")]
    if pairs_path is not None:
        tables.append(pairs_path)
    for path in tables:
        # recover BEFORE the existence probe: a swap that crashed
        # between its renames leaves the only copy parked aside with
        # no live dir, and the r10 non-mutating read path
        # (live_read_path) no longer restores it as a side effect —
        # skipping here would strand the store parked forever
        recover_swap(path)
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        split = split_for_compaction(df)
        if split is None:
            continue
        older, newest = split
        n = older.count()
        n_files = max(1, -(-n // target_rows_per_file))
        merged = older.withColumn(
            "batch", F.lit(RESERVED_COMPACT_BATCH)
        ).repartition(n_files)
        # the newest partition's ROWS are kept verbatim (replay
        # safety) but its FILES are rewritten to the same
        # rows-per-file target — small-files discipline applies to
        # it too
        n2 = newest.count()
        newest_c = newest.select(*merged.columns).repartition(
            max(1, -(-n2 // target_rows_per_file))
        )
        fold = merged.unionByName(newest_c).localCheckpoint()
        swap_publish(
            path,
            lambda tmp, m=fold: m.write.mode("overwrite")
            .partitionBy("batch")
            .parquet(tmp),
        )
        out[path] = n_files
    return out


def read_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All near-dup pairs found so far (union over batches); empty
    frame when no batch has written yet (the path may not exist, or
    may hold only zero-row batch writes parquet can't infer from).
    An unreadable or drifted store raises (storeio discipline)."""
    from projet_etl_spark.streaming.storeio import read_store

    return read_store(
        spark, pairs_path, PAIR_SCHEMA, ["doc_a", "doc_b", "jaccard"]
    )
