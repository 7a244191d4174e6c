"""Round-11 additions: distributed BPE merge learning (the learner,
its delimited-replace merge semantics, the staged-segmentation
consumer) and URL-grain canonicalization + exact-URL dedup.

The oracle-parity rows for the four new registry queries come from
tests/test_parity.py; this file pins the parts an oracle cannot see —
the learner against an independent PURE-PYTHON reference
implementation, the string-encoding trick against the greedy fold on
adversarial symbol runs, the cross-engine canonicalization on literal
URLs covering every noise arm, and the audit's conservation laws.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

# ---------------------------------------------------------------
# pure-Python reference BPE (Sennrich-style, no end-of-word marker)
# — deliberately independent of the engine code: dict + list
# manipulation only, the ground truth the Spark loop must reproduce
# ---------------------------------------------------------------


def _py_count_pairs(vocab):
    pc = {}
    for syms, c in vocab.values():
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + c
    return pc


def _py_apply_merge(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_learn(vocab, n_merges):
    merges = []
    for k in range(1, n_merges + 1):
        pc = _py_count_pairs(vocab)
        if not pc:
            break
        (left, right), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, left, right, f))
        vocab = {
            w: (_py_apply_merge(s, left, right), c)
            for w, (s, c) in vocab.items()
        }
    return merges, vocab


def _fixture_vocab(spark):
    """The learner's input, computed through an independent path
    (collect the raw token counts, build char lists in Python)."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators.bpe import WORD_RE
    from projet_etl_spark.operators.textstats import BPE_PATTERN
    from projet_etl_spark.sources.tables import load_table

    rows = (
        load_table(spark, SF_SMALL, "documents")
        .select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0)
            ).alias("t")
        )
        .filter(F.col("t").rlike(WORD_RE))
        .groupBy("t")
        .count()
        .collect()
    )
    return {r["t"]: (list(r["t"]), r["count"]) for r in rows}


def test_spark_learner_matches_python_reference(spark):
    """The full distributed loop — pair counting, argmax total order,
    greedy merge application — reproduces the reference learner merge
    for merge."""
    from projet_etl_spark.operators import bpe

    ref_merges, ref_vocab = _py_learn(_fixture_vocab(spark), bpe.N_MERGES)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
        for r in bpe.q_bpe_learn_merges(spark, SF_SMALL).collect()
    ]
    assert got == ref_merges
    assert len(got) == bpe.N_MERGES  # fixture never exhausts pairs


def test_learner_pair_freq_is_nonincreasing(spark):
    """BPE invariant: a merge can only create pairs bounded by the
    frequency of the pair just merged, so the learned sequence's
    pair_freq is non-increasing in rank — a cheap canary for a broken
    argmax or a merge application that double-counts."""
    from projet_etl_spark.operators import bpe

    freqs = [
        r["pair_freq"]
        for r in bpe.q_bpe_learn_merges(spark, SF_SMALL)
        .orderBy("merge_rank")
        .collect()
    ]
    assert freqs == sorted(freqs, reverse=True)
    assert all(f > 0 for f in freqs)


@pytest.mark.parametrize(
    "syms,left,right",
    [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a", "a"], "a", "a"),  # the run case a
        # single-delimiter encoding gets wrong (shared separator)
        (["l", "r", "l", "r"], "l", "r"),  # back-to-back occurrences
        (["x", "l", "r", "l", "r", "y"], "l", "r"),
        (["ab", "a", "b"], "a", "b"),  # pattern must not match the
        # tail of the fused symbol 'ab'
        (["b", "ab", "a"], "b", "a"),  # ...nor bridge a boundary
        (["lr", "l", "r", "lr"], "l", "r"),
        (["a"], "a", "a"),  # single-symbol word: no-op
    ],
)
def test_delimited_replace_equals_greedy_fold(spark, syms, left, right):
    """The double-separator literal replace IS the greedy left-to-
    right fold, including on adversarial runs and fused-symbol
    boundaries (module docstring, operators/bpe.py) — checked through
    the engine's own encode -> F.replace -> decode path."""
    from pyspark.sql import functions as F

    sep = "  "
    encoded = sep + sep.join(syms) + sep
    df = spark.createDataFrame([(encoded,)], "s string")
    out = df.select(
        F.expr(f"filter(split(s, '{sep}'), x -> x <> '')").alias("before"),
        F.expr(
            "filter(split(replace(s, "
            f"' {left}{sep}{right} ', ' {left}{right} '), '{sep}'), "
            "x -> x <> '')"
        ).alias("after"),
    ).collect()[0]
    assert list(out["before"]) == syms
    assert list(out["after"]) == _py_apply_merge(syms, left, right)


def test_learned_count_consistent_with_fixed_count(spark):
    """The learned-count consumer's pre-token column must agree with
    the independent fixed-tokenizer query, and each pre-token costs
    at least one learned symbol and at most its character count."""
    from projet_etl_spark.operators import bpe, textstats

    fixed = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in textstats.q_text_bpe_token_count(spark, SF_SMALL).collect()
    }
    rows = bpe.q_bpe_learned_count(spark, SF_SMALL).collect()
    assert len(rows) == len(fixed)
    for r in rows:
        assert r["n_pretokens"] == fixed[r["doc_id"]]
        assert r["n_learned_tokens"] >= r["n_pretokens"]
        assert r["tokens_per_pretoken"] >= 1.0


def test_staged_segmentation_matches_fresh_learn(spark):
    """The fingerprint-staged segmentation serves exactly the final
    word table of a fresh learning run (staging can never mask a
    builder change — the version token folds N_MERGES)."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import bpe

    staged = {
        r["token"]: r["n_syms"]
        for r in bpe.learned_segmentation(spark, SF_SMALL).collect()
    }
    _, words = bpe.learn_merges(spark, SF_SMALL)
    fresh = {
        r["token"]: r["n"]
        for r in words.select(
            "token",
            F.expr("size(filter(split(s, '  '), x -> x <> ''))").alias("n"),
        ).collect()
    }
    assert staged == fresh and len(staged) > 0


def _py_vocab(texts):
    """The learner's input for a crafted corpus, through Python's own
    regex engine: alpha word tokens of the shared pre-tokenizer."""
    import re
    from collections import Counter

    from projet_etl_spark.operators.bpe import WORD_RE
    from projet_etl_spark.operators.textstats import BPE_PATTERN

    counts = Counter(
        t
        for text in texts
        if text is not None
        for t in re.findall(BPE_PATTERN, text)
        if re.match(WORD_RE, t)
    )
    return {t: (list(t), c) for t, c in counts.items()}


def _learn_on(spark, tmp_path, texts):
    """(merges, {token: n_syms}) of the engine learner over a
    documents table holding ``texts``."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import bpe

    spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
        for r in bpe.q_bpe_learn_merges(spark, str(tmp_path)).collect()
    ]
    _, words = bpe.learn_merges(spark, str(tmp_path))
    segs = {
        r["token"]: r["n"]
        for r in words.select(
            "token",
            F.expr("size(filter(split(s, '  '), x -> x <> ''))").alias("n"),
        ).collect()
    }
    return got, segs


def test_learner_breaks_pair_freq_ties_by_left_then_right(spark, tmp_path):
    """Equal pair_freq is broken by the left symbol, then the right
    one: (a,b), (a,c), (b,a) and (z,a) all start at frequency 2."""
    from projet_etl_spark.operators import bpe

    texts = ["ba za ac ab", "ab za ac ba", None, "", "7 !"]
    got, segs = _learn_on(spark, tmp_path, texts)
    ref, ref_vocab = _py_learn(_py_vocab(texts), bpe.N_MERGES)
    assert got == ref
    assert got[:2] == [(1, "a", "b", 2), (2, "a", "c", 2)]
    assert segs == {w: len(syms) for w, (syms, _) in ref_vocab.items()}


def test_learner_stops_when_pairs_run_out(spark, tmp_path):
    """A corpus with fewer learnable pairs than N_MERGES returns one
    row per pair it could merge, and every word ends as one symbol."""
    from projet_etl_spark.operators import bpe

    texts = ["abc abc xy", "xy q"]
    got, segs = _learn_on(spark, tmp_path, texts)
    ref, _ = _py_learn(_py_vocab(texts), bpe.N_MERGES)
    assert got == ref
    assert 0 < len(got) < bpe.N_MERGES
    assert segs == {"abc": 1, "xy": 1}


def test_learner_on_empty_documents(spark, tmp_path):
    """An empty documents table learns zero merges, without error."""
    got, segs = _learn_on(spark, tmp_path, [])
    assert got == [] and segs == {}


# ---------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------

_URL_CASES = [
    "https://www.example.com/p/1",
    "HTTP://WWW.Example.COM:443/p/1/",
    "https://cdn.example.co.uk/p/2?utm_source=feed",
    "http://example.org/p/3?utm_campaign=x&utm_medium=y#frag",
    "https://example.net:8080/p/4?gclid=abc123",
    "https://user:pw@example.com/p/5/?fbclid=zzz#x",
    "example.com/p/6?keep=1&utm_source=a&also=2",
    "https://example.com/p/7?utm_a=broken&keep=1",  # utm_a IS a
    # tracking param (utm_[a-z]+) — keep=1 must survive
    "https://example.com/p/8?ref=hn",
    "https://example.com///",
    "bare-token",
    "https://example.com/Path/Case/Kept",
]


def test_canonical_url_duckdb_mirror_matches_spark(spark):
    """Byte-identical canonicalization cross-engine on literals that
    cover every strip rule (scheme/case, userinfo, port, www,
    tracking params alone/mixed/leading/trailing, fragment, trailing
    slashes, bare tokens, path case preservation)."""
    import duckdb

    from pyspark.sql import functions as F

    from projet_etl_spark.functions import web

    sdf = spark.createDataFrame(
        [(i, u) for i, u in enumerate(_URL_CASES)], "i long, u string"
    )
    srows = [
        r["c"]
        for r in sdf.select(
            "i", web.canonical_url(F.col("u")).alias("c")
        )
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{u}')" for i, u in enumerate(_URL_CASES))
        + ") t(i, u)"
    )
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {web.sql_canonical_url('u')} FROM d ORDER BY i"
        ).fetchall()
    ]
    assert srows == drows
    # spot-pin the semantics themselves, not just cross-engine accord
    got = dict(zip([u for u in _URL_CASES], srows))
    assert got["https://www.example.com/p/1"] == "example.com/p/1"
    assert got["HTTP://WWW.Example.COM:443/p/1/"] == "example.com/p/1"
    assert (
        got["example.com/p/6?keep=1&utm_source=a&also=2"]
        == "example.com/p/6?keep=1&also=2"
    )
    assert got["https://example.com/p/7?utm_a=broken&keep=1"] == (
        "example.com/p/7?keep=1"
    )
    assert got["bare-token"] == "bare-token"
    assert got["https://example.com/Path/Case/Kept"] == (
        "example.com/Path/Case/Kept"
    )


def test_noise_cancels_to_clean_doc_url(spark):
    """canonical(noisy_doc_url) == canonical(doc_url) on the real
    fixture — every noise arm is something the canonicalizer strips,
    so the noisy and clean derivations agree doc for doc."""
    from pyspark.sql import functions as F

    from projet_etl_spark.functions import web
    from projet_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    n_diff = docs.select(
        web.canonical_url(
            web.noisy_doc_url(F.col("source"), F.col("doc_id"))
        ).alias("a"),
        web.canonical_url(
            web.doc_url(F.col("source"), F.col("doc_id"))
        ).alias("b"),
    ).filter(F.col("a") != F.col("b")).count()
    assert n_diff == 0


def test_crawl_url_duckdb_mirror_matches_spark(spark):
    """The crawl-log fixture device is byte-identical cross-engine;
    stride 13 is coprime with every arm modulus (2,3,4,5,6,7,17 and
    PAGE_MOD=150), so all CASE arms fire."""
    import duckdb

    from pyspark.sql import functions as F

    from projet_etl_spark.functions import web

    ids = list(range(0, 600, 13))
    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    srows = [
        r["u"]
        for r in sdf.select(
            "doc_id", web.crawl_url(F.col("doc_id")).alias("u")
        )
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        + ", ".join(f"({i})" for i in ids)
        + ") t(doc_id)"
    )
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {web.sql_crawl_url('doc_id')} FROM d ORDER BY doc_id"
        ).fetchall()
    ]
    assert srows == drows


def test_exact_url_audit_conserves_fetches(spark):
    """Partition law: every fetch is exactly one of new / within-
    snapshot dup / cross-snapshot dup; totals cover the corpus; both
    dup classes and the new-URL column carry signal in every
    snapshot (the PAGE_MOD / singleton-arm design contract)."""
    from projet_etl_spark.operators import domains
    from projet_etl_spark.sources.tables import load_table

    rows = domains.q_dedup_exact_url(spark, SF_SMALL).collect()
    assert [r["snap"] for r in rows] == list(range(domains.SNAPSHOTS))
    for r in rows:
        assert (
            r["n_new_urls"] + r["n_hist_dups"] + r["n_batch_dups"]
            == r["n_fetches"]
        )
        assert r["n_new_urls"] > 0
    total = load_table(spark, SF_SMALL, "documents").count()
    assert sum(r["n_fetches"] for r in rows) == total
    assert sum(r["n_batch_dups"] for r in rows) > 0
    assert sum(r["n_hist_dups"] for r in rows) > 0


def test_url_canonicalize_is_lossless_on_doc_ids(spark):
    """One output row per document, and the domain column agrees with
    the domain-grain extraction applied directly."""
    from pyspark.sql import functions as F

    from projet_etl_spark.functions import web
    from projet_etl_spark.operators import domains
    from projet_etl_spark.sources.tables import load_table

    out = domains.q_url_canonicalize(spark, SF_SMALL)
    total = load_table(spark, SF_SMALL, "documents").count()
    assert out.count() == total
    n_bad = out.filter(
        web.registrable_domain(F.col("canonical_url")) != F.col("domain")
    ).count()
    assert n_bad == 0


# ---------------------------------------------------------------
# storeio writer-lock enforcement (r11, verdict item 3)
# ---------------------------------------------------------------


def _mk_store(spark, tmp_path, name="store"):
    p = str(tmp_path / name)
    spark.range(10).toDF("v").coalesce(1).write.mode("overwrite").parquet(p)
    return p


def test_live_writer_blocks_second_mutator(spark, tmp_path):
    """Every mutating entrypoint fails loudly while a LIVE writer (here:
    another open of the lock in our own process, the nested/second
    writer case the lock exists to kill) owns the store, and leaves
    the owner's lock in place."""
    import os

    import pytest as _pytest

    from projet_etl_spark.sources import ingest

    p = _mk_store(spark, tmp_path)
    with ingest._writer_lock(p) as owner:
        for fn in (
            lambda: ingest.recover_swap(p),
            lambda: ingest.swap_publish(p, lambda t: os.makedirs(t)),
            lambda: ingest.compact(spark, p, target_rows_per_file=5),
        ):
            with _pytest.raises(ingest.StoreWriterConflict):
                fn()
            assert owner.owns()
    assert not os.path.exists(p + "._writerlock")


def test_dead_writer_lock_is_broken_and_write_proceeds(spark, tmp_path):
    """A crashed writer's lock (dead pid) must not wedge the store —
    the next mutator breaks it and completes."""
    import os
    import subprocess

    from projet_etl_spark.sources import ingest

    p = _mk_store(spark, tmp_path)
    proc = subprocess.Popen(["true"])
    proc.wait()  # pid now provably dead (reaped child)
    with open(p + "._writerlock", "w", encoding="utf-8") as fh:
        fh.write(str(proc.pid))
    n_files = ingest.compact(spark, p, target_rows_per_file=5)
    assert n_files == 2
    assert not os.path.exists(p + "._writerlock")  # released after


def test_reader_never_mutates_an_owned_store(spark, tmp_path):
    """Crashed-swap layout (aside parked, live dir gone, no swap
    marker) plus a LIVE writer in another process: the reader must
    serve the parked bytes and rename nothing — a writer stalled
    between its renames is slow, not dead. Once the owner is gone,
    the same reader restores the aside (the r8 guarantee)."""
    import os

    from projet_etl_spark.sources import ingest
    from tests.conftest import writer_lock_holder

    p = _mk_store(spark, tmp_path)
    aside = p + "._precompact"
    os.rename(p, aside)  # crash between the two publish renames
    with writer_lock_holder(p):  # owner is alive
        assert ingest.live_read_path(p) == aside
        assert os.path.exists(aside) and not os.path.exists(p)
    # owner released
    assert ingest.live_read_path(p) == p
    assert os.path.exists(p) and not os.path.exists(aside)
    assert not os.path.exists(p + "._writerlock")


def test_compactor_racing_publish_conflicts_inside_window(spark, tmp_path):
    """The injected concurrent writer+compactor fault: a compaction
    fired while a publish holds the lease must raise, and the publish
    must complete untouched afterwards."""
    import os

    import pytest as _pytest

    from projet_etl_spark.sources import ingest

    p = _mk_store(spark, tmp_path)

    seen = {}

    def write_tmp(tmp):
        # while the publish lease is held, a "concurrent" compactor
        # arrives — it must conflict, not interleave
        with _pytest.raises(ingest.StoreWriterConflict):
            ingest.compact(spark, p, target_rows_per_file=5)
        seen["raised"] = True
        spark.range(3).toDF("v").coalesce(1).write.mode("overwrite").parquet(
            tmp
        )

    ingest.swap_publish(p, write_tmp)
    assert seen["raised"]
    assert spark.read.parquet(p).count() == 3
    assert not os.path.exists(p + "._writerlock")


# ---------------------------------------------------------------
# RP-banding rebuild (r11): 160-bit/16-band keys via the Arrow
# signature kernel — exactness pins the oracle can't give us alone
# ---------------------------------------------------------------


def test_rp_band_keys_duckdb_mirror_matches_spark(spark, duck):
    """The Arrow kernel's (vec_id, band, key) rows are byte-identical
    to the DuckDB generated-SQL banding over the real fixture — the
    float64 left-to-right accumulation contract, checked bit-for-bit
    through the sign test and the MSB-first key composition."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import dedup
    from projet_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    srows = sorted(
        (r["vec_id"], r["band"], r["key"])
        for r in dedup._rp_band_keys(emb).collect()
    )
    bits_cols = ",\n".join(
        "CASE WHEN ("
        + " + ".join(
            f"embedding[{i}]::DOUBLE * CAST({float(dedup.rp_weight(h, i))!r} AS DOUBLE)"
            for i in range(1, 65)
        )
        + f") >= 0 THEN 1 ELSE 0 END AS b{h}"
        for h in range(dedup.RP_BITS)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(
            f"b{dedup.RP_BAND_BITS * b + j} * {2 ** (dedup.RP_BAND_BITS - 1 - j)}"
            for j in range(dedup.RP_BAND_BITS)
        )
        + " AS key FROM bits"
        for b in range(dedup.RP_BANDS)
    )
    drows = sorted(
        tuple(r)
        for r in duck.execute(
            f"WITH bits AS MATERIALIZED (SELECT vec_id, {bits_cols} "
            f"FROM embeddings) {band_rows}"
        ).fetchall()
    )
    assert srows == drows and len(srows) > 0


def test_embedding_lsh_recall_has_teeth(spark):
    """The recall audit's conservation laws on the fixture: found is
    a subset of true, both positive, recall in (0, 1] — and at least
    the band-probability floor for the fixture's MARGINAL similarity
    regime (every pair sits at cos 0.40-0.51, where 12 bands of 6
    bits predict ~0.45-0.57; measured 0.47 at sf0.001 / 0.56 at
    sf0.1 — strictly above the old 16-bit config's 0.38/0.43, see
    the rp_weight/constants history). High-threshold deployments sit
    on the >=0.97 part of the curve; the fixture deliberately does
    not (dedup.COSINE_THRESHOLD comment)."""
    from projet_etl_spark.operators import dedup

    row = dedup.q_embedding_lsh_recall(spark, SF_SMALL).collect()[0]
    assert 0 < row["n_found"] <= row["n_true_pairs"]
    assert 0.0 < row["recall"] <= 1.0
    assert row["recall"] >= 0.3  # marginal-sim floor, see docstring


def test_rp_band_constants_are_consistent():
    """RP_BITS must factor exactly into bands x band-bits, and the
    key space must stay within the int32 the kernel declares."""
    from projet_etl_spark.operators import dedup

    assert dedup.RP_BANDS * dedup.RP_BAND_BITS == dedup.RP_BITS
    assert 2**dedup.RP_BAND_BITS <= 2**31 - 1


def test_rp_planes_are_pairwise_distinct():
    """The r11 weight family must generate RP_BITS genuinely distinct
    hyperplanes — the original mod-11 formula was periodic in h, so
    only 11 distinct planes ever existed and signature width was an
    illusion (the bug behind the 0.26-recall measurement that
    triggered the family change)."""
    from projet_etl_spark.operators import dedup

    planes = {
        tuple(dedup.rp_weight(h, i) for i in range(1, 65))
        for h in range(dedup.RP_BITS)
    }
    assert len(planes) == dedup.RP_BITS


def test_canonical_url_is_idempotent(spark):
    """A canonicalizer must be a projection: canonical(canonical(u))
    == canonical(u). Exercised over a component grid crossing every
    strip rule (scheme case/absence, userinfo, www and case in the
    host, default and explicit ports, path case, trailing slashes,
    tracking-only / mixed / real-only query strings, fragments) —
    512 composed URLs, batch-evaluated through the engine's own
    Column expressions."""
    import itertools

    from pyspark.sql import functions as F

    from projet_etl_spark.functions import web

    schemes = ["", "https://", "HTTP://", "ftp://"]
    users = ["", "user:pw@"]
    hosts = ["www.Example.COM", "cdn.site7.co.uk", "EXAMPLE.org", "bare"]
    ports = ["", ":443", ":8080"]
    paths = ["", "/p/9", "/Mixed/Case/", "///"]
    queries = [
        "",
        "?utm_source=a",
        "?keep=1&utm_medium=m&also=2",
        "?utm_a=x&utm_b=y",
    ]
    frags = ["", "#frag"]
    urls = [
        "".join(parts)
        for parts in itertools.islice(
            itertools.product(schemes, users, hosts, ports, paths, queries, frags),
            0, None, 3,  # every 3rd of the 1536-item grid: 512 cases
        )
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    bad = (
        df.select(web.canonical_url(F.col("u")).alias("c1"))
        .select("c1", web.canonical_url(F.col("c1")).alias("c2"))
        .filter(F.col("c1") != F.col("c2"))
        .collect()
    )
    assert bad == [], f"non-idempotent canonicalization: {bad[:5]}"
