"""Text-analysis operators over the documents table.

The training-data-pipeline surface (no reference counterpart;
SURVEY.md §2.11 / §7 phase E): token counting, quality scoring,
n-gram-heuristic language ID, and content fingerprinting. All pure
JVM-side column expressions — each ships with a term-for-term DuckDB
oracle.

At 100 TB these are embarrassingly parallel map-only plans: no
shuffle, no UDF, predicate/column pruning straight to parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import (
    fingerprint,
    shingles3,
    shingles_k,
    tokens,
)
from projet_etl_spark.sources.tables import load_table

# small fixed stopword lists for the lang-id heuristic; the zh signal
# is any CJK codepoint. Order of the CASE chain = deterministic
# tiebreak (en > es > de > fr).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une"],
}

PUNCT = ".,;:!?"


def _count_in(toks, words: list[str]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count (whitespace tokenization)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_obs"),
        F.size(toks).cast("long").alias("n_tokens"),
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: the fraction of word-3-gram
    occurrences that are repeats of an earlier 3-gram in the same
    document (the Gopher/C4-style "repetitious text" quality rule —
    boilerplate and degenerate generations score high). Map-only:
    total 3-gram slots minus distinct 3-grams, over total slots;
    docs too short for a 3-gram score 0."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    total = F.greatest(F.size("t") - 2, F.lit(0)).cast("long")
    staged = docs.select(
        "doc_id",
        total.alias("n_grams"),
        F.size(shingles3(F.col("t"))).cast("long").alias("n_distinct"),
    )
    return staged.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(
            F.coalesce(
                (F.col("n_grams") - F.col("n_distinct"))
                / F.nullif(F.col("n_grams"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("rep_ratio"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, mean token length, punctuation ratio,
    English-stopword ratio, and a weighted quality score."""
    # token array staged in its own projection: referencing an
    # inlined split() from several output expressions re-evaluates
    # the regex per expression (see operators/dedup._doc_shingles)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("t")
    )
    toks = F.col("t")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    # punctuation count via replace-and-diff (identical in DuckDB with
    # the 'g' flag); character class kept explicit for regex parity
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), f"[{PUNCT}]", ""))
    stop_en = _count_in(toks, STOPWORDS["en"])
    base = docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_obs"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_chars / n_tokens).alias("chars_per_token"),
        # empty text: NULL, not DIVIDE_BY_ZERO (DuckDB's x / 0)
        F.try_divide(n_punct, n_chars).alias("punct_ratio"),
        (stop_en / n_tokens).alias("stopword_ratio"),
    )
    quality = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.col("stopword_ratio") * F.lit(0.4)
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * F.lit(10.0), F.lit(1.0)))
        * F.lit(0.2)
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round("chars_per_token", 6).alias("chars_per_token"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-heuristic language ID (en/es/de/fr/zh).

    zh wins on any CJK codepoint; otherwise the language with the
    highest stopword-hit count, ties broken en > es > de > fr.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("t")
    )
    toks = F.col("t")
    cjk = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[一-鿿]", "")
    )
    counts = {lang: _count_in(toks, words) for lang, words in STOPWORDS.items()}
    base = docs.select(
        "doc_id",
        cjk.cast("long").alias("cjk_chars"),
        *[counts[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    pred = (
        F.when(F.col("cjk_chars") > 0, F.lit("zh"))
        .when(F.col("hits_en") == best, F.lit("en"))
        .when(F.col("hits_es") == best, F.lit("es"))
        .when(F.col("hits_de") == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return base.select("doc_id", "cjk_chars", pred.alias("pred_lang"))


KEEP_FRAC = 0.5  # survivor fraction per language


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified selection: keep the top KEEP_FRAC of
    documents per language by quality score — the corpus-filtering
    step that actually consumes the quality signals. Stratifying by
    language keeps the cut from silently purging low-resource
    languages (an unstratified global cut would, because the
    stopword-based score is calibrated per language).

    Scale shape: this exact form ranks each language in one window
    partition — the oracle-able baseline, same trade as
    value-percentiles. At 100 TB swap in the approx twin below
    (``q_quality_filter_approx``): a t-digest quality threshold per
    language is mergeable map-side state with no per-stratum sort,
    and the filter itself is map-only.
    """
    from pyspark.sql import Window

    scored = (
        q_text_quality(spark, sf_dir)
        .select("doc_id", "quality")
        .join(load_table(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    ranked = scored.select(
        "doc_id",
        "lang",
        "quality",
        F.row_number().over(w).cast("long").alias("lang_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
    )
    return ranked.filter(
        F.col("lang_rank") <= F.ceil(F.col("n_lang") * F.lit(KEEP_FRAC))
    ).select("doc_id", "lang", "quality", "lang_rank")


def q_quality_filter_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the stratified quality cut: an
    approx_percentile (t-digest — mergeable, map-side partials, no
    per-group sort) threshold per language, broadcast back, then a
    map-only filter. Estimates are engine-specific, so this twin is
    tolerance-tested against the exact cut (pytest) instead of
    oracle-hashed."""
    from pyspark.sql import functions as F2

    scored = (
        q_text_quality(spark, sf_dir)
        .select("doc_id", "quality")
        .join(load_table(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id")
    )
    thresholds = scored.groupBy("lang").agg(
        F2.approx_percentile("quality", 1.0 - KEEP_FRAC).alias("q_min")
    )
    return (
        scored.join(F2.broadcast(thresholds), "lang")
        .filter(F2.col("quality") >= F2.col("q_min"))
        .select("doc_id", "lang", "quality")
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


# BPE-ish pre-tokenization: word pieces OR single non-word non-space
# chars — the classic GPT-2-style pretoken split, minus lookaheads
# (kept RE2-compatible so the DuckDB oracle uses the same pattern)
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def q_text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts under a BPE-ish regex pre-tokenizer: word runs,
    single digits, single punctuation — the unit a subword tokenizer
    would split further. JVM-side regexp_extract_all; no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_bpe_tokens"),
    )


# rolling-hash parameters: base 31, modulus 2^31-1; codepoint values
# stay < 2^21 so acc*31 + cp < 2^36 — no int64 overflow in either
# engine
RH_BASE = 31
RH_MOD = 2147483647


def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the characters of the
    normalized text: acc = (acc*31 + codepoint) mod (2^31-1).

    A sequential higher-order fold (F.aggregate) — stays in
    whole-stage codegen, and the identical fold runs in the oracle
    via list_reduce, so the hash is engine-exact.
    """
    from projet_etl_spark.functions.text import normalized

    docs = load_table(spark, sf_dir, "documents")
    chars = F.split(normalized(F.col("text")), "")
    rh = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * RH_BASE + F.ascii(ch)) % RH_MOD,
    )
    return docs.select("doc_id", rh.alias("rolling_hash"))


# tf-idf: top terms per language
TFIDF_K = 10


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per language by corpus tf-idf.

    tf = term occurrences within the language (exact BIGINT),
    idf = ln(N_docs / df) with df counted over the whole corpus;
    score = tf * idf. All float math is per-row deterministic
    (one division + one ln + one multiply), so the only rounding is
    the presentation ROUND(6) before ranking.

    Scale shape: explode -> two hash aggregations (map-side partial
    on (lang, token)); tf ⋈ df is an equi-join on token between two
    already-reduced vocab-sized sides (AQE broadcasts when small —
    not forced, a 100 TB corpus vocabulary isn't broadcastable); the
    scalar doc count rides a one-row broadcast; the final top-k
    window partitions by lang over vocab-sized input.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens(F.col("text")).alias("t")
    )
    terms = docs.select("doc_id", "lang", F.explode("t").alias("token"))
    tf = terms.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = terms.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "lang",
            "token",
            F.round(
                F.col("tf")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df").cast("double")
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_K)
        .orderBy("lang", "rnk")
    )


# cross-document duplicated-gram audit (Lee et al., "Deduplicating
# Training Data Makes Language Models Better": repeated long substrings
# across documents are the highest-value dedup target). 5-word grams
# for the same reason decontamination uses them: 3-grams over-flag.
CROSS_DOC_K = 5


def q_dedup_cross_doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of its distinct 5-grams that also occur
    in at least one OTHER document — the gram-granular analogue of
    suffix-array substring dedup, used to rank documents for removal
    or to audit what near-dedup left behind.

    Scale shape: grams are distinct-per-doc, so one hash groupBy on
    the gram yields exact containing-doc counts; the join back to
    per-doc grams is a shuffle equi-join on the gram key (both sides
    reduced/exploded text, never the corpus itself), then one
    map-side-partial groupBy per doc. The final left join restores
    gram-less (<5-token) documents with n_grams=0. No broadcast of
    unbounded sides; every stage keys on gram or doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    # token array staged in its own projection: inlining tokens()
    # inside shingles_k re-evaluates the regex split per element_at
    # (measured 15.6 s -> 5.4 s for the gram explode at sf0.1; same
    # trap as operators/dedup._doc_shingles)
    staged = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # the exploded gram table feeds BOTH the frequency agg and the
    # join-back; one staged materialization instead of deriving the
    # tokenize+shingle pipeline twice (cache tracked for release)
    from projet_etl_spark.cache import eager_persist

    g = eager_persist(
        staged.select(
            "doc_id",
            F.explode(shingles_k(F.col("t"), CROSS_DOC_K)).alias("gram"),
        )
    )
    freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        g.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("n_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0))
            .cast("long")
            .alias("n_dup_grams"),
            (
                F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double")
                / F.coalesce(F.col("n_grams"), F.lit(0)).cast("double")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# substring-level cross-doc dedup (dedup-longest-span): maximal
# shared token spans per doc pair, reconstructed from runs of
# adjacent shared 5-grams — the distributed, join-based equivalent
# of the suffix-array long-duplicate pass in Lee et al.; the
# gram-level audit above only counts shared grams, this one merges
# them into spans.
SPAN_DF_CAP = 16  # grams in more docs than this are boilerplate seeds
MIN_SPAN_TOKENS = 8  # report pairs sharing a run of >= 8 tokens


def q_dedup_longest_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc pair: the longest shared token span and how many
    distinct shared spans clear MIN_SPAN_TOKENS.

    A shared span is a maximal run of positions where both documents
    carry identical CROSS_DOC_K-grams on one alignment diagonal
    (pos_a - pos_b constant, consecutive pos_a): a run of n adjacent
    shared k-grams covers n + k - 1 identical tokens.

    Scale shape: positions ride the gram explode, the document
    frequency cap (2 <= df <= SPAN_DF_CAP) prunes both unique grams
    (no partner) and boilerplate grams BEFORE the self-join, so the
    join fanout per gram key is bounded by SPAN_DF_CAP²; island
    detection is a window over (doc_a, doc_b, diagonal) partitions —
    pair-local, never corpus-wide. No cartesian anywhere
    (tests/test_scale_patterns.py pins the plan).
    """
    from pyspark.sql import Window

    from projet_etl_spark.cache import eager_persist

    k = CROSS_DOC_K
    staged = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("t") - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ", *[F.element_at(F.col("t"), i + j) for j in range(k)]
            ).alias("gram"),
        ),
    )
    # positioned grams feed the frequency agg AND both self-join
    # sides — one staged materialization (same rationale as the
    # cross-doc audit above)
    g = eager_persist(
        staged.filter(F.size("t") >= k)
        .select("doc_id", F.explode(gram_structs).alias("pg"))
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    )
    seeds = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SPAN_DF_CAP))
        .select("gram")
    )
    kept = g.join(seeds, "gram")
    a = kept.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "gram")
    b = kept.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = pairs.withColumn("isl", F.col("pos_a") - F.row_number().over(w))
    spans = (
        islands.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("doc_a", "doc_b", (F.col("n") + F.lit(k - 1)).alias("span_tokens"))
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").cast("long").alias("longest_span_tokens"),
            F.sum(
                F.when(F.col("span_tokens") >= MIN_SPAN_TOKENS, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_spans"),
        )
        .filter(F.col("longest_span_tokens") >= MIN_SPAN_TOKENS)
        .orderBy("doc_a", "doc_b")
    )


def q_text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy (bits) of the token frequency
    distribution — a repetition/diversity quality signal: boilerplate
    and keyword-stuffed pages score low, natural prose scores high.

    entropy = log2(n) - sum(c * log2(c)) / n over per-token counts c
    (the algebraic form that needs no per-token division). The
    c*log2(c) sum is a float whose merge order varies with
    partitioning, so the result carries the engine's standard
    presentation ROUND(6) (docs/SCALE.md determinism invariant).

    Scale shape: explode -> groupBy (doc_id, token) -> groupBy doc_id,
    both hash aggregations with map-side partials; no joins, no
    windows, embarrassingly parallel at any corpus size.
    """
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    counts = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_unique_tokens"),
            F.sum(F.col("c").cast("double") * F.log2("c")).alias("clog"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n_unique_tokens").cast("long"),
            F.round(
                F.log2(F.col("n").cast("double"))
                - F.col("clog") / F.col("n").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


# --- unigram LM quality proxy (CCNet-style, capped vocabulary) ------

# 31 distinct tokens exist in the synthetic corpus; capping the LM
# vocabulary below that keeps a real OOV path in the fixture.
LM_VOCAB_K = 24


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under a corpus-fit
    capped-vocabulary LM — the CCNet-style language-model quality
    proxy (docs of improbable token mix score low), reduced to a
    unigram model so the whole path is column expressions and the
    score is oracle-able.

    Model fit and scoring are one lazy plan: token frequencies (one
    hash aggregate), the top-``LM_VOCAB_K`` vocabulary (global top-k
    = TakeOrderedAndProject, model-sized), corpus token total (1-row
    broadcast); scoring left-joins tokens to the broadcast vocabulary
    and averages ln(tf/N) with ln(1/N) as the OOV floor.

    Scale shape: the explode→aggregate is map-side combined on the
    token key; the vocabulary is capped at a constant K so its
    broadcast never grows with the corpus; the per-doc average is one
    hash aggregate on doc_id. No global sorts, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    terms = docs.select("doc_id", F.explode("t").alias("token"))
    freq = terms.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = freq.orderBy(F.desc("tf"), F.asc("token")).limit(LM_VOCAB_K)
    total = terms.agg(F.count(F.lit(1)).alias("n_total"))
    scored = (
        terms.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce(
                F.log(F.col("tf").cast("double") / F.col("n_total").cast("double")),
                F.log(F.lit(1.0) / F.col("n_total").cast("double")),
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


# --- per-source distribution drift (PSI) ----------------------------

PSI_BUCKETS = 8
PSI_BUCKET_WIDTH = 75  # n_chars buckets: [0,75), ..., [525, inf)


def q_docs_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index of each source's document-length
    distribution against the rest of the corpus — the standard
    data-quality drift monitor (a source whose length profile shifts
    away from the corpus gets a high PSI and a human look) over
    fixed-width n_chars buckets with Laplace smoothing (+0.5 per
    cell, so empty buckets stay finite).

    Scale shape: one (source, bucket) hash aggregate over the scan —
    everything after is arithmetic on source×bucket rows (the dense
    grid comes from exploding a constant bucket array per source, no
    join); the corpus total rides a 1-row broadcast. At any corpus
    size the post-aggregate work is |sources| × PSI_BUCKETS rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = F.floor(
        F.least(F.col("n_chars"), F.lit(PSI_BUCKETS * PSI_BUCKET_WIDTH - 1))
        / F.lit(PSI_BUCKET_WIDTH)
    ).cast("long")
    cnt = docs.select("source", b.alias("b")).groupBy("source", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    grid = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            F.explode(F.array(*[F.lit(i) for i in range(PSI_BUCKETS)])).alias("b"),
        )
        .join(cnt, ["source", "b"], "left")
        .select("source", "b", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tot_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tot_bucket = grid.groupBy("b").agg(F.sum("c").alias("cb"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    half_b = float(0.5 * PSI_BUCKETS)
    joined = (
        grid.join(tot_src, "source")
        .join(tot_bucket, "b")
        .crossJoin(F.broadcast(total))
    )
    p = (F.col("c") + F.lit(0.5)) / (F.col("n_s") + F.lit(half_b))
    q = (F.col("cb") - F.col("c") + F.lit(0.5)) / (
        F.col("n") - F.col("n_s") + F.lit(half_b)
    )
    term = (p - q) * F.log(p / q)
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_docs"),
            F.round(F.sum(term), 6).alias("psi"),
        )
        .orderBy("source")
    )


def q_token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: least-squares
    slope of log(freq) against log(rank) over the full vocabulary,
    with the fit's R² — the corpus-linguistics sanity audit (natural
    text sits near slope ≈ -1; synthetic or templated corpora
    deviate hard, so this is a cheap generated-text detector).

    Scale shape: one token hash aggregate reduces the corpus to
    vocabulary grain — but the regression needs every token's GLOBAL
    rank, and vocabulary grain is corpus-derived and unbounded
    (hundreds of millions of distinct tokens on a web corpus), so the
    rank is computed with the repo's two-pass distributed pattern
    (star.py orders-theilsen-trend) instead of a single-partition
    ``row_number()`` window (r10, verdict item 2): range-partition by
    the rank order, rank locally per partition, add each partition's
    cumulative row offset (a |partitions|-row frame, coalesced to one
    task — bounded by the constant partition count, never by data).
    Ranks tie-break on the token, so the log-log point set is
    identical across engines; the regression sums are doubles whose
    partial order may differ, hence ROUND(6) after the final
    combination (the tfidf/logprob float discipline).
    """
    from pyspark.sql import Window

    from projet_etl_spark.cache import eager_persist

    terms = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    freq = terms.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    # materialize the range partitioning ONCE (the theilsen
    # discipline): offsets and the ranked frame must agree on pids as
    # a guarantee, not an exchange-reuse optimizer side effect
    sp = eager_persist(
        freq.repartitionByRange(
            32, F.desc("tf"), F.asc("token")
        ).withColumn("pid", F.spark_partition_id())
    )
    cnts = sp.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    offsets = cnts.coalesce(1).select(
        "pid",
        F.coalesce(
            F.sum("c").over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    local = Window.partitionBy("pid").orderBy(F.desc("tf"), F.asc("token"))
    pts = sp.join(F.broadcast(offsets), "pid").select(
        F.log(
            (F.row_number().over(local) + F.col("off")).cast("double")
        ).alias("x"),
        F.log(F.col("tf").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((r_num / r_den) * (r_num / r_den), 6).alias("r2"),
    )


def q_docs_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence audit: per predicted language, how many
    documents the classifier decided on a ZERO stopword-hit margin
    (best == second-best — a coin-flip disguised as a prediction) and
    the average margin — the calibration report that tells a curation
    run which language buckets to trust before per-language
    filtering/resampling acts on them.

    Exactness: hit counts and margins are exact integers; the one
    float op is the per-row average division. Scale shape: the same
    map-only stopword-count pass as text-lang-id plus a |langs|-group
    aggregate — nothing data-sized after the scan.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("t")
    )
    toks = F.col("t")
    cjk = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[一-鿿]", "")
    )
    counts = {lang: _count_in(toks, words) for lang, words in STOPWORDS.items()}
    base = docs.select(
        cjk.cast("long").alias("cjk_chars"),
        *[counts[lang].cast("long").alias(f"hits_{lang}") for lang in STOPWORDS],
    )
    arr = F.array_sort(
        F.array(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    )
    n_langs = len(STOPWORDS)
    margin = F.element_at(arr, n_langs) - F.element_at(arr, n_langs - 1)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    pred = (
        F.when(F.col("cjk_chars") > 0, F.lit("zh"))
        .when(F.col("hits_en") == best, F.lit("en"))
        .when(F.col("hits_es") == best, F.lit("es"))
        .when(F.col("hits_de") == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return (
        base.select(pred.alias("pred_lang"), margin.alias("margin"))
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("margin") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero_margin"),
            F.round(
                F.sum("margin").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_margin"),
        )
        .orderBy("pred_lang")
    )


HIST_BAND_TOKENS = 16


def q_tokens_per_doc_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution in fixed 16-token bands — the
    profile that drives pack-sequences budgeting and curriculum
    bucketing (token mass per length band, not just doc counts,
    because packing cost follows tokens). Pure integer banding, one
    map pass + one |bands|-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(F.size(tokens(F.col("text"))).alias("n_tok"))
    band = F.expr(f"div(n_tok, {HIST_BAND_TOKENS})")
    return (
        per_doc.select(band.cast("long").alias("band"), "n_tok")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .select(
            "band",
            (F.col("band") * HIST_BAND_TOKENS).cast("long").alias("lo_tokens"),
            "n_docs",
            "total_tokens",
        )
        .orderBy("band")
    )
