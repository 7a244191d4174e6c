"""Distributed BPE merge learning over the documents corpus.

The one first-class LLM-pipeline operator the engine lacked (r10
verdict item 2): learn byte-pair-encoding merges from corpus
statistics — iteratively pick the highest-frequency adjacent symbol
pair and fuse it — rather than only *applying* a fixed pre-tokenizer
(``text-bpe-token-count``, textstats.py). No reference counterpart
(the reference is a retail OLAP app, views.py); semantics follow the
published BPE algorithm (Sennrich et al. 2016, ACL) restricted to a
word-level vocabulary, without the end-of-word marker.

Semantics (pinned, cross-engine):

- Vocabulary = alpha word tokens of the shared pre-tokenizer
  (``textstats.BPE_PATTERN``) matching ``^[A-Za-z]{2,}$``, weighted
  by corpus frequency. Everything else the pre-tokenizer emits is a
  SINGLE character (lone digits, punctuation, non-ASCII codepoints),
  contributes no adjacent pair, and can never merge — so the filter
  drops nothing learnable, keeps the symbol alphabet pure ASCII
  (binary string comparison agrees across engines), and shrinks the
  iterated working set to the word vocabulary.
- Each round counts every adjacent symbol position (overlap-counted)
  weighted by word frequency, picks the max by
  ``(pair_freq DESC, left ASC, right ASC)`` — a total order, so the
  learned sequence is deterministic — and applies the merge
  greedily left-to-right within each word.
- Merge application is a LITERAL string replace over a delimited
  symbol encoding, identical bytes on both engines. A word's symbol
  sequence is ``"  " + "  ".join(syms) + "  "`` (two spaces between
  symbols and at both ends; symbols never contain whitespace).
  Replacing ``" l  r "`` with ``" lr "`` consumes only the INNER
  half of each boundary's double separator, so after a replacement
  the scan resumes with the next symbol's leading separator intact —
  SQL replace's leftmost-first non-overlapping semantics then
  coincides exactly with the greedy fold (a single-delimiter
  encoding breaks on consecutive merges: the pattern would consume
  the shared separator; verified against a pure-Python reference
  learner in tests/test_round11_ops.py).

Scale shape (the 100 TB argument): the corpus-sized work — the
pre-tokenize + word-count aggregate — stays distributed and happens
ONCE. Only its |vocab|-row output (token, encoding, freq) moves into
ONE task, where an Arrow kernel runs every merge round in memory:
count adjacent pairs weighted by freq, take the argmax, apply the
literal replace. Heaps' law keeps |vocab| orders of magnitude under
corpus size (it grows roughly as the square root of the corpus), so
the table fits one task long after the corpus stops fitting one
machine — the same split single-process BPE trainers make: count
words over the corpus, then learn merges over the word-count table.
The whole learner is one lazy plan: building it runs no Spark job,
and a round costs O(|vocab| symbols) of Python in that task, not a
scheduled job and a driver round-trip.

The learned segmentation (token -> symbol count) is fingerprint-
staged like the cluster labels (sources/staging.py) so consumers
price a lookup join, not a relearn; the from-scratch learner stays
the oracled ground truth exactly as ``dedup-clusters`` does for its
staged labels.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.operators.textstats import BPE_PATTERN
from projet_etl_spark.sources.tables import load_table, read_parquet

# bounded iterations: the learner runs exactly N_MERGES rounds (the
# fixture corpus supports far more; a corpus that exhausts its pairs
# earlier stops early — see learn_merges). Folded into the staging
# version token below, so changing it invalidates staged layouts.
# Every round runs inside the one learner task over the |vocab|
# table, so a round costs Python work over that table, not jobs;
# the value is pinned by the oracle's unrolled CTE chain.
N_MERGES = 16

# alpha word tokens only (see module docstring — everything else the
# pre-tokenizer emits is single-symbol and unlearnable)
WORD_RE = "^[A-Za-z]{2,}$"

_SEP = "  "  # double-space symbol boundary; symbols are space-free


def _encoded_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, s, freq): corpus word frequencies with the delimited
    initial character encoding ``"  c1  c2  ...  "``."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).alias("token")
    )
    return (
        toks.filter(F.col("token").rlike(WORD_RE))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            "token",
            # '  ' + every char suffixed with '  ' == the delimited
            # encoding; same regex, same replacement bytes as the
            # DuckDB mirror (sql_learn_ctes)
            F.concat(
                F.lit(_SEP),
                F.regexp_replace(F.col("token"), r"(.)", r"$1  "),
            ).alias("s"),
            "freq",
        )
    )


_LEARNED_SCHEMA = (
    "merge_rank long, left_sym string, right_sym string, pair_freq long, "
    "token string, s string, freq long"
)


def _make_learner(n_merges: int):
    """mapInPandas kernel over the whole (token, s, freq) table: runs
    up to ``n_merges`` rounds and emits one row per merge
    (merge_rank, left_sym, right_sym, pair_freq) followed by one row
    per word (token, s, freq) with ``s`` fully merged; the other
    side's columns are null."""

    def learn(batches):
        import pandas as _pd

        frames = [b for b in batches if len(b)]
        if not frames:
            return
        words = _pd.concat(frames, ignore_index=True)
        enc, freq = words["s"].tolist(), words["freq"].tolist()
        merges = []
        for k in range(1, n_merges + 1):
            pairs: dict[tuple[str, str], int] = {}
            for e, f in zip(enc, freq):
                syms = e.split()  # symbols are space-free
                for pair in zip(syms, syms[1:]):
                    pairs[pair] = pairs.get(pair, 0) + f
            if not pairs:
                break
            # (pair_freq DESC, l ASC, r ASC); symbols are ASCII, so
            # code-point order is the JVM's and DuckDB's binary order
            (l, r), pf = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((k, l, r, pf))
            # str.replace is SQL replace: leftmost, non-overlapping
            old, new = f" {l}{_SEP}{r} ", f" {l}{r} "
            enc = [e.replace(old, new) for e in enc]
        if merges:
            yield _pd.DataFrame(
                merges,
                columns=["merge_rank", "left_sym", "right_sym", "pair_freq"],
            ).assign(token=None, s=None, freq=None)
        yield _pd.DataFrame(
            {
                "merge_rank": None,
                "left_sym": None,
                "right_sym": None,
                "pair_freq": None,
                "token": words["token"],
                "s": enc,
                "freq": words["freq"],
            }
        )

    return learn


def learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> tuple[DataFrame, DataFrame]:
    """The learner as one lazy plan; returns (merges, final words).

    merges = (merge_rank, left_sym, right_sym, pair_freq), one row per
    learned merge; words = (token, s, freq) with ``s`` fully merged,
    for the staged segmentation consumer. Both are filters of the
    same single-task kernel output, so building them runs no job.

    Stops early (fewer than n_merges rows) only when the corpus has
    no adjacent pair left anywhere — a degenerate regime the unrolled
    oracle does not model (its CTE chain would go empty), documented
    rather than papered over; any real corpus supports vastly more
    merges than N_MERGES.
    """
    learned = (
        _encoded_vocab(spark, sf_dir)
        .repartition(1)
        .mapInPandas(_make_learner(n_merges), schema=_LEARNED_SCHEMA)
    )
    merges = learned.filter(F.col("merge_rank").isNotNull()).select(
        "merge_rank", "left_sym", "right_sym", "pair_freq"
    )
    words = learned.filter(F.col("token").isNotNull()).select(
        "token", "s", "freq"
    )
    return merges, words


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: (merge_rank, left_sym, right_sym,
    pair_freq) for N_MERGES rounds, in learned order."""
    merges, _ = learn_merges(spark, sf_dir)
    return merges.orderBy("merge_rank")


# ---------------------------------------------------------------
# staged learned segmentation + its consumer
# ---------------------------------------------------------------

_BPE_STAGE_ROOT = _os.path.join(
    _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    ),
    "spark-warehouse",
    "stores",
    "bpe_segmentation",
)


def learned_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, n_syms): symbols per vocabulary word under the learned
    merges, served from the fingerprint-staged materialization (the
    cluster_labels discipline — build is refresh cost; the builder
    version token folds N_MERGES so constant changes invalidate)."""
    from pyspark.errors import AnalysisException

    from projet_etl_spark.sources.staging import (
        ensure_staged,
        parquet_fingerprint,
    )

    def _build_df() -> DataFrame:
        _, words = learn_merges(spark, sf_dir)
        return words.select(
            "token",
            F.expr(
                f"size(filter(split(s, '{_SEP}'), x -> x <> ''))"
            )
            .cast("long")
            .alias("n_syms"),
        )

    try:
        fp = parquet_fingerprint(sf_dir, "documents.parquet")
    except OSError:
        return _build_df()

    def _build(root: str) -> None:
        # one small dimension table (|vocab| rows of token + long):
        # a handful of files is the right layout for a broadcast side
        _build_df().coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(root, "segmentation")
        )

    path = ensure_staged(
        _BPE_STAGE_ROOT,
        sf_dir,
        fp,
        "segmentation",
        _build,
        version=f"bpe-seg-v2:n={N_MERGES}",
    )
    try:
        return read_parquet(spark, path)
    except AnalysisException:
        return _build_df()


def q_bpe_learned_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the LEARNED vocabulary — the
    consumer twin of ``text-bpe-token-count`` (fixed pre-tokenizer):
    every pre-token costs its learned symbol count (non-vocabulary
    pre-tokens are single symbols by construction, COALESCE 1), so
    the ratio prices how much the learned merges compress the corpus.

    Scale shape: map-side explode of the pre-tokenizer, one BROADCAST
    left join against the staged |vocab|-sized segmentation table,
    one per-doc aggregate — no corpus-sized shuffle beyond the
    doc_id re-aggregation, and the learner itself is refresh cost.
    """
    seg = learned_segmentation(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).alias("token"),
    )
    return (
        toks.join(F.broadcast(seg), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
            .cast("long")
            .alias("n_learned_tokens"),
        )
        .select(
            "doc_id",
            "n_pretokens",
            "n_learned_tokens",
            F.round(
                F.col("n_learned_tokens").cast("double")
                / F.col("n_pretokens").cast("double"),
                6,
            ).alias("tokens_per_pretoken"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------
# DuckDB oracle mirrors (unrolled, materialized CTE chain)
# ---------------------------------------------------------------


def sql_learn_ctes(n_merges: int = N_MERGES) -> str:
    """The shared CTE chain both oracles build on: v0 = the encoded
    word-frequency table, then per round k a pair-count aggregate
    ``p{k}``, a one-row argmax ``m{k}``, and the merged table
    ``v{k}``. Every vK is MATERIALIZED — it is referenced by both
    p{k+1} and v{k+1}, and inlining would re-evaluate the whole
    prefix exponentially. Same regexes, same delimiter bytes, same
    ``(pair_freq DESC, l, r)`` total order as the Spark learner."""
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT t AS token, '{_SEP}' || regexp_replace(t, '(.)', '\\1{_SEP}', 'g') AS s,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(regexp_extract_all(text, '{BPE_PATTERN}')) AS t
        FROM documents)
  WHERE regexp_matches(t, '{WORD_RE}')
  GROUP BY t)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r,
         CAST(SUM(freq) AS BIGINT) AS pair_freq
  FROM (SELECT list_filter(string_split(s, '{_SEP}'), x -> x <> '') AS syms,
               freq,
               unnest(range(1, len(list_filter(string_split(s, '{_SEP}'),
                                               x -> x <> '')))) AS i
        FROM v{k - 1})
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""m{k} AS (
  SELECT l, r, pair_freq FROM p{k}
  ORDER BY pair_freq DESC, l ASC, r ASC LIMIT 1)"""
        )
        ctes.append(
            f"""v{k} AS MATERIALIZED (
  SELECT token,
         replace(s, ' ' || m.l || '{_SEP}' || m.r || ' ',
                    ' ' || m.l || m.r || ' ') AS s,
         freq
  FROM v{k - 1}, m{k} m)"""
        )
    return "WITH " + ",\n".join(ctes)


def sql_learn_merges(n_merges: int = N_MERGES) -> str:
    """Oracle for ``bpe-learn-merges``."""
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, pair_freq FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return f"{sql_learn_ctes(n_merges)}\n{sel}\nORDER BY merge_rank"


def sql_learned_count(n_merges: int = N_MERGES) -> str:
    """Oracle for ``bpe-learned-count``: the same chain, then the
    final table's symbol counts joined back to every pre-token."""
    return f"""{sql_learn_ctes(n_merges)},
seg AS (
  SELECT token,
         CAST(len(list_filter(string_split(s, '{_SEP}'), x -> x <> ''))
              AS BIGINT) AS n_syms
  FROM v{n_merges}),
tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '{BPE_PATTERN}')) AS token
  FROM documents)
SELECT tok.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(COALESCE(seg.n_syms, 1)) AS BIGINT) AS n_learned_tokens,
       ROUND(CAST(SUM(COALESCE(seg.n_syms, 1)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS tokens_per_pretoken
FROM tok LEFT JOIN seg ON tok.token = seg.token
GROUP BY tok.doc_id
ORDER BY tok.doc_id"""


def q_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility table per language: pre-tokens, learned
    tokens, and character mass, with chars-per-learned-token and
    learned-tokens-per-pretoken ratios — the standard table a
    tokenizer evaluation reports per language (a language whose
    fertility is far above the corpus mean is under-served by the
    learned vocabulary and motivates merge-budget rebalancing).

    Scale shape (the learned-count consumer's exactly): map-side
    pre-tokenizer explode, one broadcast join against the staged
    |vocab|-sized segmentation, then a |langs|-row aggregate —
    the learner itself is staged refresh cost.
    """
    seg = learned_segmentation(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
        ).alias("token"),
    )
    return (
        toks.join(F.broadcast(seg), "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pretokens"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
            .cast("long")
            .alias("n_learned_tokens"),
            F.sum(F.length("token")).cast("long").alias("token_chars"),
        )
        .select(
            "lang",
            "n_pretokens",
            "n_learned_tokens",
            "token_chars",
            F.round(
                F.col("token_chars").cast("double")
                / F.col("n_learned_tokens").cast("double"),
                6,
            ).alias("chars_per_learned_token"),
            F.round(
                F.col("n_learned_tokens").cast("double")
                / F.col("n_pretokens").cast("double"),
                6,
            ).alias("tokens_per_pretoken"),
        )
        .orderBy("lang")
    )


def sql_fertility_by_lang(n_merges: int = N_MERGES) -> str:
    """Oracle for ``bpe-fertility-by-lang``: the shared learn chain,
    the final segmentation, one token-explode join, a per-lang
    aggregate."""
    return f"""{sql_learn_ctes(n_merges)},
seg AS (
  SELECT token,
         CAST(len(list_filter(string_split(s, '{_SEP}'), x -> x <> ''))
              AS BIGINT) AS n_syms
  FROM v{n_merges}),
tok AS (
  SELECT lang,
         unnest(regexp_extract_all(text, '{BPE_PATTERN}')) AS token
  FROM documents)
SELECT tok.lang,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(COALESCE(seg.n_syms, 1)) AS BIGINT) AS n_learned_tokens,
       CAST(SUM(length(tok.token)) AS BIGINT) AS token_chars,
       ROUND(CAST(SUM(length(tok.token)) AS DOUBLE)
             / CAST(SUM(COALESCE(seg.n_syms, 1)) AS DOUBLE), 6)
           AS chars_per_learned_token,
       ROUND(CAST(SUM(COALESCE(seg.n_syms, 1)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS tokens_per_pretoken
FROM tok LEFT JOIN seg ON tok.token = seg.token
GROUP BY tok.lang
ORDER BY tok.lang"""
