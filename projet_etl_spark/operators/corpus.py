"""End-to-end corpus curation: the composed training-data pipeline.

quality-filter → exact-dedup (keep lowest doc_id per fingerprint) →
per-language corpus stats, as ONE lazy plan — the shape a 100 TB
pretraining-data build runs nightly: a map-only scoring pass, one
shuffle on the high-entropy fingerprint for dedup, one tiny shuffle
on language for the rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import fingerprint, tokens
from projet_etl_spark.operators.textstats import STOPWORDS, _count_in
from projet_etl_spark.sources.tables import load_table

QUALITY_CUTOFF = 0.45


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated per-language corpus stats after quality filter + dedup."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "lang",
        fingerprint(F.col("text")).alias("fp"),
        tokens(F.col("text")).alias("t"),
        F.length("text").alias("n_chars_obs"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[.,;:!?]", ""))
        ).alias("n_punct"),
    )
    scored = staged.select(
        "doc_id",
        "lang",
        "fp",
        F.size("t").cast("long").alias("n_tokens"),
        (
            F.least(F.size("t") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
            + F.try_divide(_count_in(F.col("t"), STOPWORDS["en"]), F.size("t"))
            * F.lit(0.4)
            + (
                F.lit(1.0)
                - F.least(
                    F.try_divide(F.col("n_punct"), F.col("n_chars_obs"))
                    * F.lit(10.0),
                    F.lit(1.0),
                )
            )
            * F.lit(0.2)
        ).alias("quality"),
        # try_divide: empty text has no characters (and may have no
        # tokens); its ratios are NULL, as DuckDB's x / 0, instead of
        # an ANSI DIVIDE_BY_ZERO
    ).filter(F.col("quality") >= F.lit(QUALITY_CUTOFF))
    keep = (
        scored.withColumn(
            "rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        keep.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def survivor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tok) of the documents that survive the full
    hygiene chain: near-dedup canonical ∩ quality-model keep ∖
    contaminated, eval docs excluded — the shared front half of the
    clean-corpus audit and the training-export manifest."""
    from projet_etl_spark.operators.clusters import cluster_labels
    from projet_etl_spark.operators.decontam import (
        EVAL_DOCS,
        q_decontaminate_ngram,
    )
    # r14: the Arrow scorer twin (identical output, pinned) — the
    # explode -> broadcast-weight join shape measured ~30% slower for
    # verdict-only consumers (OPTIMIZATION_r14.md)
    from projet_etl_spark.operators.quality_model import (
        score_documents_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    reps = cluster_labels(spark, sf_dir).filter(
        F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id")
    keep = score_documents_arrow(docs.select("doc_id", "text")).filter(
        F.col("keep")
    ).select("doc_id")
    contam = q_decontaminate_ngram(spark, sf_dir).select("doc_id")
    return (
        docs.filter(F.col("doc_id") >= EVAL_DOCS)
        .join(reps, "doc_id", "left_semi")
        .join(keep, "doc_id", "left_semi")
        .join(contam, "doc_id", "left_anti")
        .select("doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok"))
    )


def q_pipeline_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard manifest of the curated training corpus: survivors
    of the full hygiene chain (``survivor_docs``) assigned to
    hash-sharded concat-then-chunk packs (the pack-sequences layout),
    rolled up to one row per (shard, pack) with doc/token counts —
    the artifact a dataloader actually consumes.

    Scale shape: the hygiene chain reuses the already-oracled
    operators (each stage reduces before its doc_id equi-join); the
    packing window is partition-local per shard (shard count scales
    with the cluster); the manifest aggregate is packs-sized. This is
    the nightly "what lands on the trainer" job as one lazy plan.
    """
    from projet_etl_spark.functions.text import portable_hash60
    from projet_etl_spark.operators.packing import N_SHARDS, PACK_BUDGET

    survivors = survivor_docs(spark, sf_dir)
    sharded = survivors.select(
        "doc_id",
        "n_tok",
        (portable_hash60(F.col("doc_id").cast("string")) % F.lit(N_SHARDS)).alias(
            "shard"
        ),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    started = sharded.withColumn(
        "start_tok", F.sum("n_tok").over(w) - F.col("n_tok")
    ).withColumn("pack_id", F.expr(f"start_tok div {PACK_BUDGET}"))
    return (
        started.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("shard", "pack_id")
    )


def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as one composed plan: per-language
    document/token budget of the corpus that survives

      1. NEAR-dedup — only the canonical representative (min doc_id)
         of each minhash-LSH connected component survives,
      2. model quality filtering — quality-model keep (logit > 0),
      3. benchmark decontamination — any doc sharing an eval 5-gram
         is dropped, and the eval set itself (doc_id < EVAL_DOCS)
         never enters the training corpus.

    This is the end-to-end "what do we actually train on" audit that
    chains the engine's dedup, inference and hygiene surfaces — every
    stage is the already-oracled operator, composed lazily; the
    DuckDB oracle replays the identical chain inside one recursive
    CTE statement.

    Scale shape: nothing new — the component labels (cluster-count
    sized), keep verdicts (doc-keyed aggregate) and contamination
    flags (gram equi-join) each reduce before the final doc_id
    equi-joins; the last aggregation is languages-sized.
    """
    survivors = survivor_docs(spark, sf_dir)
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("lang")
    )


def q_corpus_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hygiene-funnel report: how many documents survive each
    stage of the clean-corpus chain (raw → eval-excluded → near-dedup
    canonical → model keep → decontaminated), with retention against
    raw — the one-page answer to "where did the corpus go?" that
    every curation run publishes next to its export manifest.

    Plan shape: stage membership is flagged with three LEFT joins on
    doc_id (each right side is an already-oracled operator's reduced
    output), then ONE grand aggregate of nested conditional sums and
    a 5-row stack — the funnel costs one pass over the joined frame,
    never one scan per stage. Retention divides exact longs once per
    output row.
    """
    from projet_etl_spark.operators.clusters import cluster_labels
    from projet_etl_spark.operators.decontam import (
        EVAL_DOCS,
        q_decontaminate_ngram,
    )
    # r14: Arrow scorer twin — see survivor_docs
    from projet_etl_spark.operators.quality_model import (
        score_documents_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    reps = (
        cluster_labels(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", F.lit(1).alias("is_rep"))
    )
    keep = (
        score_documents_arrow(docs)
        .filter(F.col("keep"))
        .select("doc_id", F.lit(1).alias("is_keep"))
    )
    contam = q_decontaminate_ngram(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("is_contam")
    )
    flags = (
        docs.select("doc_id", (F.col("doc_id") >= EVAL_DOCS).alias("noneval"))
        .join(reps, "doc_id", "left")
        .join(keep, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "noneval",
            F.coalesce(F.col("is_rep"), F.lit(0)).alias("r"),
            F.coalesce(F.col("is_keep"), F.lit(0)).alias("k"),
            F.coalesce(F.col("is_contam"), F.lit(0)).alias("c"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("raw"),
        F.sum(F.when(F.col("noneval"), 1).otherwise(0)).alias("s1"),
        F.sum(
            F.when(F.col("noneval") & (F.col("r") == 1), 1).otherwise(0)
        ).alias("s2"),
        F.sum(
            F.when(
                F.col("noneval") & (F.col("r") == 1) & (F.col("k") == 1), 1
            ).otherwise(0)
        ).alias("s3"),
        F.sum(
            F.when(
                F.col("noneval")
                & (F.col("r") == 1)
                & (F.col("k") == 1)
                & (F.col("c") == 0),
                1,
            ).otherwise(0)
        ).alias("s4"),
    )
    # empty-corpus contract: no rows (not a 0/0 funnel) — the filter
    # also keeps the retention division away from raw = 0
    stages = agg.filter(F.col("raw") > 0).selectExpr(
        "raw",
        "stack(5, "
        "0L, 'raw', raw, "
        "1L, 'eval-excluded', s1, "
        "2L, 'dedup-canonical', s2, "
        "3L, 'model-keep', s3, "
        "4L, 'decontaminated', s4"
        ") AS (stage_ord, stage, n_docs)",
    )
    return stages.select(
        F.col("stage_ord").cast("long").alias("stage_ord"),
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.col("n_docs").cast("double") * 100.0 / F.col("raw").cast("double"),
            6,
        ).alias("retained_pct"),
    ).orderBy("stage_ord")
