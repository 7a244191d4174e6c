"""Model-based text quality filtering (fastText-style linear scorer).

The one curation-pipeline operator class the heuristic signals
(operators/textstats.py) don't cover: a LEARNED quality model scored
at corpus scale. The model here is the fastText supervised
architecture — hash every unigram/bigram occurrence into a fixed
feature table, average the feature weights, threshold the logit —
with deterministic md5-derived weights standing in for trained ones,
so the exact same score is expressible in DuckDB SQL and the whole
path is oracle-checked (the reference has no model scoring at all;
this extends SURVEY.md §2.11's pipeline surface).

Two twins, same contract (mirrors embed-score-pandas/-jvm):

- ``q_text_quality_model``      — Arrow-batched mapInPandas: the shape a
  real (non-linear, externally-trained) classifier deploys as. Spark
  tokenizes; Python only hashes and sums.
- ``q_text_quality_model_jvm``  — pure column expressions
  (explode → md5 bucket → md5 weight → one hash aggregation), the
  plan to prefer while the model stays linear.

Determinism contract (what makes a "model score" oracle-able):
- features are token STRINGS, hashed with the engine's portable
  md5-based h30 (functions/text.py) — identical in Spark, DuckDB and
  Python's hashlib;
- the weight of bucket b is another md5 hash of ``"w#<b>"`` mapped
  into integer milli-units [-1000, 1000], so the per-document logit
  is an exact BIGINT sum (order-independent — float partial-sum
  merge order can't bite);
- the only float op is one IEEE division (exact longs in, correctly
  rounded double out — bit-equal in all three implementations), and
  the keep decision compares the INTEGER logit with 0.

Scale shape (100 TB): explode → two md5s per feature occurrence →
one map-side-partial hash aggregation on doc_id. No joins, no
windows, no broadcast state; the "model" (hash seed + bucket count)
ships in the closure / expression tree, never as data. The pandas
twin streams Arrow batches and keeps a per-executor bucket→weight
memo (at most N_BUCKETS entries) so md5 work amortizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import h30, tokens
from projet_etl_spark.sources.tables import load_table

N_BUCKETS = 4096  # fastText-style hashing-trick feature table size
W_SPAN = 1000  # weights are integer milli-units in [-W_SPAN, W_SPAN]

OUT_SCHEMA = (
    "doc_id long, n_features long, logit_milli long, score double, keep boolean"
)


def _feature_array(t: Column) -> Column:
    """array<string> of scoring features of token-array column ``t``:
    every unigram occurrence tagged ``u#`` plus every adjacent-bigram
    occurrence tagged ``b#`` (occurrences, not distinct — fastText
    averages the bag)."""
    uni = F.transform(t, lambda tok: F.concat(F.lit("u#"), tok))
    bi = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat(
            F.lit("b#"), F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
        ),
    )
    empty = F.array().cast("array<string>")
    return F.concat(uni, F.when(F.size(t) >= 2, bi).otherwise(empty))


def _weight_milli(bucket: Column) -> Column:
    """Deterministic integer weight of a feature bucket: md5 of the
    salted bucket id mapped into [-W_SPAN, W_SPAN] milli-units."""
    salted = F.concat(F.lit("w#"), bucket.cast("string"))
    return h30(salted) % F.lit(2 * W_SPAN + 1) - F.lit(W_SPAN)


def score_documents(docs: DataFrame) -> DataFrame:
    """Score a (doc_id, text) frame with the JVM-expression model:
    (doc_id, n_features, logit_milli, score, keep). Shared by the
    batch query and the streaming budget twin
    (streaming/quality.py), so the two paths cannot drift.

    logit_milli = Σ weight(bucket(feature)) over feature occurrences
    (exact BIGINT); score = logit_milli / (1000 · n_features) — the
    mean feature weight in natural units; keep = logit_milli > 0.
    """
    spark = docs.sparkSession
    # token array staged in its own projection (regex re-eval trap,
    # see operators/dedup.doc_shingles)
    staged = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    feats = staged.select(
        "doc_id", F.explode(_feature_array(F.col("t"))).alias("feat")
    )
    # the model IS the bucket->weight table: materialize its 4096
    # rows once and broadcast, instead of re-deriving the weight md5
    # per feature occurrence (the deployment shape of a real trained
    # model, whose weights wouldn't be derivable in-row at all)
    model = F.broadcast(
        spark.range(N_BUCKETS)
        .select(F.col("id").alias("bucket"))
        .select("bucket", _weight_milli(F.col("bucket")).alias("w"))
    )
    weighted = feats.select(
        "doc_id", (h30(F.col("feat")) % F.lit(N_BUCKETS)).alias("bucket")
    ).join(model, "bucket")
    agg = weighted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.sum("w").cast("long").alias("logit_milli"),
    )
    score = F.col("logit_milli").cast("double") / (
        F.col("n_features") * F.lit(W_SPAN)
    ).cast("double")
    return agg.select(
        "doc_id",
        "n_features",
        "logit_milli",
        score.alias("score"),
        (F.col("logit_milli") > 0).alias("keep"),
    )


def q_text_quality_model_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fastText-style quality score, all JVM-side."""
    return score_documents(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).orderBy("doc_id")


def q_corpus_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-token budget after model filtering: per (lang, keep)
    stratum, how many documents and whitespace tokens survive the
    quality model's verdict — the planning table a curation run
    produces before committing to a training mix.

    Scale shape: the scorer's one aggregation joined back to a
    map-only token count on doc_id, then a second tiny hash
    aggregation on (lang, keep); nothing new shuffles besides the
    doc_id equi-join of two already-reduced sides.
    """
    # r14: verdict from the Arrow scorer twin (identical output,
    # pinned bit-equal) — measured 2.45 → 1.53 s median interleaved;
    # the named -jvm twin keeps its all-JVM plan, this consumer only
    # reads the verdict column
    verdict = score_documents_arrow(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "keep")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    return (
        docs.join(verdict, "doc_id")
        .groupBy("lang", "keep")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "keep")
    )


def make_quality_scorer(n_buckets: int, w_span: int):
    """Closure-shipped batch scorer over (doc_id, t) Arrow batches.

    Defined inside a factory so cloudpickle ships it BY VALUE and
    executors of an external driver need no importable package (same
    trap as inference.make_scorer / the multimodal factories).
    """

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import pandas as _pd

        h30_mod = 1 << 30
        wmod = 2 * w_span + 1
        memo_w: dict[int, int] = {}  # bucket -> weight (<= n_buckets entries)

        def _h30(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % h30_mod

        def _weight(bucket: int) -> int:
            w = memo_w.get(bucket)
            if w is None:
                w = _h30(f"w#{bucket}") % wmod - w_span
                memo_w[bucket] = w
            return w

        for pdf in batches:
            n_out, logit_out = [], []
            for toks in pdf["t"]:
                toks = list(toks)
                feats = [f"u#{x}" for x in toks]
                feats += [
                    f"b#{a} {b}" for a, b in zip(toks, toks[1:])
                ]
                n_out.append(len(feats))
                logit_out.append(
                    sum(_weight(_h30(f) % n_buckets) for f in feats)
                )
            n_s = _pd.Series(n_out, dtype="int64")
            logit_s = _pd.Series(logit_out, dtype="int64")
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_features": n_s,
                    "logit_milli": logit_s,
                    # exact longs in, one correctly-rounded IEEE
                    # division out — bit-equal with the JVM/SQL twins
                    "score": logit_s.astype("float64")
                    / (n_s.astype("float64") * float(w_span)),
                    "keep": logit_s > 0,
                }
            )

    return score


def score_documents_arrow(docs: DataFrame) -> DataFrame:
    """``score_documents`` with the logit computed by the Arrow batch
    scorer instead of the explode → broadcast-weight join — identical
    output (exact BIGINT logit, same md5 math; pinned bit-equal by
    the twin-query tests). r14 (guide §4.2): for CONSUMERS that only
    read the verdict columns, this shape measured 25-40% faster at
    sf0.1 (the explode multiplies rows ~2× tokens before the
    broadcast join and per-doc re-aggregate; the kernel never leaves
    doc grain). q_text_quality_model_jvm keeps the JVM-expression
    plan — that twin's identity IS the all-JVM shape — and the
    streaming budget twin keeps score_documents so stream/batch
    parity stays plan-shared. A null-text document is dropped before
    the kernel, as the JVM shape drops it (its feature explode yields
    no rows)."""
    staged = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    return staged.mapInPandas(
        make_quality_scorer(N_BUCKETS, W_SPAN), schema=OUT_SCHEMA
    )


def q_text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scores via the Arrow/pandas deployment shape: Spark
    tokenizes (so tokenization can't drift between engines), Python
    hashes and sums per batch (score_documents_arrow, which drops
    null text as the JVM twin does)."""
    return score_documents_arrow(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")
