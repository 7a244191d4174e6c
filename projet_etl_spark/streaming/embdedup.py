"""Streaming embedding near-duplicate detection at the deployment
threshold — the micro-batch twin of
operators/dedup.q_dedup_embedding_lsh_hi, and the embedding-space
sibling of streaming/neardedup.py (same two-table state shape, same
replay discipline).

Each micro-batch of (vec_id, v float64[64]) vectors is signatured
with the SAME Arrow kernel as the batch query (dedup._rphi_band_keys,
so the two paths cannot drift), then candidate pairs come from two
equi-joins on (band, key):

  - batch x batch   (near-dups arriving together), and
  - batch x STORE   (near-dups of anything seen in earlier batches),

where the store is a parquet table of every prior batch's band keys.
Verification is the same exact float64-fold cosine as the batch path;
only the vectors of candidate OLD ids are read back (a broadcast-
semi-filtered read of the vector store, bounded by the candidate
count, not the corpus — and the store keeps n2 precomputed, so
history is never re-normed).

State lives in two append-style parquet tables (band keys + vectors),
both partitioned by micro-batch id and written with dynamic partition
overwrite: a replayed batch rewrites exactly its own partition, and
the history side filters ``batch < current`` so a replay can never
pair a vector with itself. :func:`compact_emb_dedup_store` folds the
replay-committed batches of all three tables into the reserved
partition, so the probe's file/partition count stays bounded between
compactions. At 100 TB this is the signature index an incremental
SemDeDup service maintains; per-batch cost is
O(batch x matching buckets), never O(corpus).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.vectors import cosine, fold_dot, fold_norm2
from projet_etl_spark.operators.dedup import (
    HI_COSINE_THRESHOLD,
    _rphi_band_keys,
)
from projet_etl_spark.streaming.storeio import write_batch_partition

EMB_PAIR_SCHEMA = "vec_a long, vec_b long, cos double"


def emb_dedup_batch(
    batch_vecs: DataFrame,
    batch_id: int,
    store_path: str,
    pairs_path: str,
    threshold: float = HI_COSINE_THRESHOLD,
) -> None:
    """foreachBatch body: emit verified cosine >= threshold pairs
    touching this micro-batch, then fold its signatures + vectors
    into the store."""
    from projet_etl_spark.streaming.storeio import read_store

    spark = batch_vecs.sparkSession
    vecs = batch_vecs.select("vec_id", "v").localCheckpoint()
    if vecs.isEmpty():
        return
    withn = vecs.withColumn("n2", fold_norm2("v")).localCheckpoint()
    bands_new = _rphi_band_keys(withn).localCheckpoint()

    bands_store = os.path.join(store_path, "bands")
    vecs_store = os.path.join(store_path, "vecs")
    left = bands_new.select(F.col("vec_id").alias("vec_a"), "band", "key")
    cands = (
        left.join(
            bands_new.select(F.col("vec_id").alias("vec_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    # history side through storeio's broken-vs-empty discipline (r12
    # verdict item 3a): a genuinely-absent store is the first-batch
    # path (empty frame -> the joins below produce nothing), but an
    # unreadable or schema-drifted store RAISES — the old bare
    # os.path.exists probe silently skipped history pairing on a
    # transiently-unlistable store, i.e. missed true pairs forever
    old_bands = read_store(
        spark,
        bands_store,
        "vec_id long, band int, key int, batch long",
        ["vec_id", "band", "key", "batch"],
    ).filter(F.col("batch") < F.lit(int(batch_id)))
    cross = (
        left.join(
            old_bands.select(F.col("vec_id").alias("vec_b"), "band", "key"),
            ["band", "key"],
        )
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
        )
    )
    cands = cands.unionByName(cross)
    # read back ONLY the old vectors that landed in a candidate
    # bucket — semi-join-bounded, never a history scan
    old_cand_ids = (
        cross.select(F.col("vec_a").alias("vec_id"))
        .unionByName(cross.select(F.col("vec_b").alias("vec_id")))
        .join(vecs.select("vec_id").distinct(), "vec_id", "left_anti")
        .distinct()
    )
    old_vecs = (
        read_store(
            spark,
            vecs_store,
            "vec_id long, v array<double>, n2 double, batch long",
            ["vec_id", "v", "n2", "batch"],
        )
        .filter(F.col("batch") < F.lit(int(batch_id)))
        .join(F.broadcast(old_cand_ids), "vec_id", "left_semi")
        .select("vec_id", "v", "n2")
    )
    vec_verify = withn.unionByName(old_vecs)
    cands = cands.distinct().localCheckpoint()

    if cands.isEmpty():
        pairs = spark.createDataFrame([], EMB_PAIR_SCHEMA)
    else:
        vec_verify = vec_verify.localCheckpoint()
        a = vec_verify.select(
            F.col("vec_id").alias("vec_a"),
            F.col("v").alias("va"),
            F.col("n2").alias("na"),
        )
        b = vec_verify.select(
            F.col("vec_id").alias("vec_b"),
            F.col("v").alias("vb"),
            F.col("n2").alias("nb"),
        )
        cos = cosine(fold_dot("va", "vb"), F.col("na"), F.col("nb"))
        pairs = (
            cands.join(a, "vec_a")
            .join(b, "vec_b")
            .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
            .filter(F.col("cos") >= F.lit(threshold))
        )
    write_batch_partition(pairs.select("vec_a", "vec_b", "cos"), batch_id, pairs_path)
    write_batch_partition(bands_new, batch_id, bands_store)
    write_batch_partition(withn, batch_id, vecs_store)


def compact_emb_dedup_store(
    spark: SparkSession, store_path: str, pairs_path: str
) -> dict[str, int]:
    """Maintenance hook (r13, r12 verdict item 3): fold the
    replay-committed batches of all three per-batch tables — the
    pairs sink, the band-key index and the vector store — into the
    reserved ``batch = -1`` partition, keeping each table's newest
    batch verbatim (the only one a restart can replay). Rows are
    facts disjoint across batches (a pair is emitted exactly once, a
    vector/signature lands in exactly one batch), so the fold is
    VERBATIM and read-invariant; what compaction buys is the layout —
    file and partition count stop growing with the batch count, so
    the batch x STORE probe's list cost stays bounded between
    compactions. The folded partition keeps satisfying the history
    filter (``batch < current``: -1 sorts below every real id), so
    the stream resumes against compacted history unchanged. Returns
    per-table row counts."""
    from projet_etl_spark.streaming.storeio import compact_append_store

    return {
        "pairs": compact_append_store(
            spark, pairs_path, ["vec_a", "vec_b", "cos"]
        ),
        "bands": compact_append_store(
            spark,
            os.path.join(store_path, "bands"),
            ["vec_id", "band", "key"],
        ),
        "vecs": compact_append_store(
            spark,
            os.path.join(store_path, "vecs"),
            ["vec_id", "v", "n2"],
        ),
    }


def read_emb_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All cosine near-dup pairs found so far (union over batches) —
    storeio discipline: a broken store raises, only the legitimately
    empty cases read as empty."""
    from projet_etl_spark.streaming.storeio import read_store

    return read_store(
        spark, pairs_path, EMB_PAIR_SCHEMA, ["vec_a", "vec_b", "cos"]
    )
