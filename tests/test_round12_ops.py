"""Round-12 tests: the PSL-lite growth grid (r11 verdict item 6), the
canonical-url left-boundary fix (r11 advisor), the writer lock's
exclusion and release safety (an ``flock`` on ``<store>._writerlock``
since the pid/TTL lease was retired), the deployment-threshold
embedding-dedup regime (verdict item 2), and the URL-frontier store
(verdict item 4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    REPO_ROOT,
    SF_SMALL,
    unobservable_kill,
    writer_lock_holder,
)

# ---------------------------------------------------------------
# public-suffix-lite growth (r11 verdict item 6): the grid test is
# GENERATED from the tuple, so growing the table re-certifies every
# entry cross-engine by construction — www-strip + subdomain-drop +
# the three-label registration fire for each suffix.
# ---------------------------------------------------------------


def _suffix_grid():
    from projet_etl_spark.functions import web

    return [
        (i, f"https://www.sub.example{i}.{s}/p?q=1", f"example{i}.{s}")
        for i, s in enumerate(web.TWO_LEVEL_SUFFIXES)
    ]


def test_two_level_suffix_table_shape():
    from projet_etl_spark.functions import web

    s = web.TWO_LEVEL_SUFFIXES
    assert len(s) >= 100  # the r11 verdict's sizing floor
    assert len(set(s)) == len(s)
    assert all(x == x.lower() and x.count(".") == 1 for x in s)
    # cross-engine alternation safety: Java regex picks the FIRST
    # matching alternative, RE2 the leftmost-LONGEST — identical
    # results require no entry to be a dot-suffix of another
    assert not [
        (a, b) for a in s for b in s if a != b and b.endswith("." + a)
    ]


def test_registrable_domain_suffix_grid_spark(spark):
    from projet_etl_spark.functions import web

    rows = _suffix_grid()
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in rows], "i long, url string"
    ).select("i", web.registrable_domain(F.col("url")).alias("d"))
    got = [r["d"] for r in df.orderBy("i").collect()]
    assert got == [d for _, _, d in rows]


def test_registrable_domain_suffix_grid_duckdb_mirror(spark):
    import duckdb

    from projet_etl_spark.functions import web

    rows = _suffix_grid()
    sdf = spark.createDataFrame(
        [(i, u) for i, u, _ in rows], "i long, url string"
    ).select("i", web.registrable_domain(F.col("url")).alias("d"))
    srows = [r["d"] for r in sdf.orderBy("i").collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE u AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{u}')" for i, u, _ in rows)
        + ") t(i, url)"
    )
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {web.sql_registrable_domain('url')} FROM u ORDER BY i"
        ).fetchall()
    ]
    assert srows == drows


# ---------------------------------------------------------------
# canonical-url left-boundary fix (r11 advisor, low): 'ref=' must
# only match as a whole QUERY PARAMETER name — never mid-token
# ('?pref=', '&href=') and never inside a path segment — and the
# first surviving parameter keeps a well-formed '?'.
# ---------------------------------------------------------------

CANON_CASES = [
    # (input, expected canonical) — adversarial first
    ("https://a.com/x?pref=home", "a.com/x?pref=home"),
    ("https://a.com/x?pref=away", "a.com/x?pref=away"),
    ("https://a.com/x?a=1&href=x", "a.com/x?a=1&href=x"),
    ("https://a.com/ref=5/page", "a.com/ref=5/page"),
    ("https://a.com/x?ref=5", "a.com/x"),
    ("https://a.com/x?ref=5&page=2", "a.com/x?page=2"),
    ("https://a.com/x?page=2&ref=5", "a.com/x?page=2"),
    ("https://a.com/x?utm_source=f&page=2&utm_medium=y", "a.com/x?page=2"),
    ("https://a.com/x?utm_source=f&utm_medium=y", "a.com/x"),
    ("https://a.com/a&b/c?x=1", "a.com/a&b/c?x=1"),  # literal & in path
    ("https://a.com/a&b?ref=x&c=1", "a.com/a&b?c=1"),
    ("https://a.com/x?gclid=1&fbclid=2&keep=3", "a.com/x?keep=3"),
    ("https://a.com/x?", "a.com/x"),
    ("https://a.com/x?ref=", "a.com/x"),
    ("HTTP://WWW.A.COM:80/x?utm_a=1#frag", "a.com/x"),
    ("https://a.com/x?xref=1", "a.com/x?xref=1"),
    ("https://a.com/x?refresh=1", "a.com/x?refresh=1"),  # name prefix, not 'ref'
]


def test_canonical_url_left_boundary_pins(spark):
    from projet_etl_spark.functions import web

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CANON_CASES)], "i long, url string"
    ).select("i", web.canonical_url(F.col("url")).alias("c"))
    got = [r["c"] for r in df.orderBy("i").collect()]
    assert got == [c for _, c in CANON_CASES]


def test_canonical_url_duckdb_mirror_on_adversarial_cases(spark):
    import duckdb

    from projet_etl_spark.functions import web

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CANON_CASES)], "i long, url string"
    ).select("i", web.canonical_url(F.col("url")).alias("c"))
    srows = [r["c"] for r in df.orderBy("i").collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE u AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{u}')" for i, (u, _) in enumerate(CANON_CASES))
        + ") t(i, url)"
    )
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {web.sql_canonical_url('url')} FROM u ORDER BY i"
        ).fetchall()
    ]
    assert srows == drows


@pytest.mark.parametrize("query", ["?refresh=1", "?pref=home", "?a=1&href=x"])
def test_canonical_url_idempotent_on_survivors(spark, query):
    """Canonicalizing a canonical URL is a no-op — including tails
    whose surviving parameters CONTAIN 'ref' as a substring (the
    over-merge class the r11 advisor flagged)."""
    from projet_etl_spark.functions import web

    df = spark.createDataFrame(
        [(f"https://a.com/x{query}",)], "url string"
    ).select(web.canonical_url(F.col("url")).alias("c1"))
    df = df.select("c1", web.canonical_url(F.col("c1")).alias("c2"))
    row = df.collect()[0]
    assert row["c1"] == row["c2"]


# ---------------------------------------------------------------
# writer lock: exclusion, release and fencing
# ---------------------------------------------------------------


def _mk_store(spark, tmp_path, name="store"):
    p = str(tmp_path / name)
    spark.range(10).toDF("v").coalesce(1).write.mode("overwrite").parquet(p)
    return p


def test_lock_content_is_atomic_with_creation(tmp_path):
    """The holder's ``hostname:pid`` body is written after locking, so
    a contender may read an empty file — harmless, because liveness
    is the kernel lock, never the content: an empty body still
    refuses the contender."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    with ingest._writer_lock(p) as lk:
        assert ingest._writer_lock_holder(lk.lock) == os.getpid()
        assert lk.owns()
        os.truncate(lk.lock, 0)  # the window before the body lands
        with pytest.raises(ingest.StoreWriterConflict):
            with ingest._writer_lock(p):
                pass
        assert lk.owns()
    assert not os.path.exists(p + "._writerlock")


def test_exit_never_removes_anothers_lease(tmp_path):
    """A lease stolen mid-hold (here: replaced behind our back) must
    NOT be removed by our __exit__ — the advisor's cascading-violation
    arm."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lk = ingest._writer_lock(p)
    lk.__enter__()
    os.remove(lk.lock)
    with open(lk.lock, "w", encoding="utf-8") as fh:
        fh.write("987654321")  # someone else's lease (their pid; the
        # filesystem may even recycle our inode for it — owns() checks
        # the recorded pid precisely because of that)
    lk.__exit__(None, None, None)
    assert os.path.exists(lk.lock)  # their lease survived our release
    os.remove(lk.lock)


def test_fence_raises_on_lost_lease(tmp_path):
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lk = ingest._writer_lock(p)
    lk.__enter__()
    try:
        lk.fence()  # healthy lease: no-op + mtime refresh
        os.remove(lk.lock)
        with open(lk.lock, "w", encoding="utf-8") as fh:
            fh.write("99999999")
        with pytest.raises(ingest.StoreWriterConflict):
            lk.fence()
    finally:
        os.remove(lk.lock)


def test_breaker_restores_live_lock_seen_through_stale_read(tmp_path):
    """A contender acting on a stale "dead" read can no longer destroy
    a live lock: there is no breaker, a refused contender leaves the
    holder's file in place, and releasing without holding touches
    nothing."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    with ingest._writer_lock(p) as holder:
        contender = ingest._writer_lock(p)
        with pytest.raises(ingest.StoreWriterConflict):
            contender.__enter__()
        contender.__exit__(None, None, None)
        assert holder.owns()
        assert ingest._writer_lock_holder(holder.lock) == os.getpid()
    assert not os.path.exists(p + "._writerlock")


def test_unobservable_pid_fresh_lease_conflicts(tmp_path, monkeypatch):
    """A live holder in another process whose pid cannot be probed
    still owns the store: liveness is the kernel lock, so the second
    writer conflicts and the holder's file is untouched."""
    from projet_etl_spark.sources import ingest

    p = str(tmp_path / "t")
    lock = p + "._writerlock"
    with writer_lock_holder(p):
        monkeypatch.setattr(os, "kill", unobservable_kill)
        ino = os.stat(lock).st_ino
        with pytest.raises(ingest.StoreWriterConflict):
            with ingest._writer_lock(p):
                pass
        assert os.stat(lock).st_ino == ino  # untouched


def test_unobservable_pid_expired_lease_breaks(tmp_path, monkeypatch):
    """A lock file nobody holds (an old lease naming some pid, aged
    long past any TTL) does not wedge the store, whatever a pid probe
    says: the next writer takes it over at once."""
    from projet_etl_spark.sources import ingest

    monkeypatch.setattr(os, "kill", unobservable_kill)
    p = str(tmp_path / "t")
    lock = p + "._writerlock"
    with open(lock, "w", encoding="utf-8") as fh:
        fh.write("12345")
    old = os.path.getmtime(lock) - 3600
    os.utime(lock, (old, old))
    with ingest._writer_lock(p) as lk:
        assert ingest._writer_lock_holder(lock) == os.getpid()
        assert lk.owns()
    assert not os.path.exists(lock)


def test_unobservable_pid_reader_serves_parked_bytes(spark, tmp_path, monkeypatch):
    """live_read_path asks the same lock: a live holder in another
    process whose pid cannot be probed means mid-mutation — the
    reader serves the parked aside and mutates nothing."""
    from projet_etl_spark.sources import ingest

    p = _mk_store(spark, tmp_path, "r")
    aside = p + "._precompact"
    os.rename(p, aside)  # a publish parked the store and is mid-swap
    with writer_lock_holder(p):
        monkeypatch.setattr(os, "kill", unobservable_kill)
        assert ingest.live_read_path(p) == aside
        assert os.path.exists(aside) and not os.path.exists(p)


def test_swap_publish_fences_under_lease(spark, tmp_path):
    """End-to-end: a full publish under the new protocol cleans up
    and the data lands (fence() on the happy path is invisible)."""
    from projet_etl_spark.sources import ingest

    p = _mk_store(spark, tmp_path, "pub")

    def write_tmp(tmp):
        spark.range(3).toDF("v").coalesce(1).write.parquet(tmp)

    ingest.swap_publish(p, write_tmp)
    assert spark.read.parquet(p).count() == 3
    for sfx in ("._writerlock", "._precompact", "._compacting", "._swaplock"):
        assert not os.path.exists(p + sfx)


# ---------------------------------------------------------------
# deployment-threshold embedding dedup (r11 verdict item 2)
# ---------------------------------------------------------------


def test_rphi_planes_are_pairwise_distinct():
    """The hi family must generate RPHI_BITS genuinely distinct
    hyperplanes, and be independent of (not alias) the base family
    — the r11 mod-11-periodicity lesson applied to the new planes."""
    from projet_etl_spark.operators import dedup

    hi = {
        tuple(dedup.rphi_weight(h, i) for i in range(1, 65))
        for h in range(dedup.RPHI_BITS)
    }
    assert len(hi) == dedup.RPHI_BITS
    base = {
        tuple(dedup.rp_weight(h, i) for i in range(1, 65))
        for h in range(dedup.RP_BITS)
    }
    assert not hi & base


def test_planted_corpus_shape_and_cosine_regime(spark):
    """The plant device's contract: |plants| = |ids divisible by
    PLANT_MOD|, every (original, twin) pair sits in the deployment
    cosine band [0.9, 1), and the device manufactures no cross-pair
    at the threshold (the exact audit finds EXACTLY the plant
    pairs)."""
    from pyspark.sql import functions as F

    from projet_etl_spark.functions.vectors import cosine, fold_dot
    from projet_etl_spark.operators import dedup
    from projet_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    n_plants = emb.filter(F.col("vec_id") % dedup.PLANT_MOD == 0).count()
    p = dedup.planted_embeddings(spark, SF_SMALL).withColumn(
        "n2", dedup.fold_norm2("v")
    )
    assert p.count() == emb.count() + n_plants
    o = p.filter(F.col("vec_id") < dedup.PLANT_OFFSET).select(
        F.col("vec_id").alias("k"), F.col("v").alias("va"), F.col("n2").alias("na")
    )
    t = p.filter(F.col("vec_id") >= dedup.PLANT_OFFSET).select(
        (F.col("vec_id") - dedup.PLANT_OFFSET).alias("k"),
        F.col("v").alias("vb"),
        F.col("n2").alias("nb"),
    )
    pair_cos = o.join(t, "k").select(
        cosine(fold_dot("va", "vb"), F.col("na"), F.col("nb")).alias("c")
    )
    lo, hi = pair_cos.agg(F.min("c"), F.max("c")).collect()[0]
    assert 0.9 <= lo <= hi < 1.0
    # the true pair set at the threshold IS the plant set: linear by
    # construction (what makes this the subquadratic regime)
    rec = dedup.q_embedding_lsh_recall_hi(spark, SF_SMALL).collect()[0]
    assert rec["n_true_pairs"] == n_plants


def test_hi_recall_meets_deployment_gate(spark):
    """The r11 verdict's item-2 gate: measured recall >= 0.97 at the
    deployment threshold over genuine high-cosine near-duplicates."""
    from projet_etl_spark.operators import dedup

    rec = dedup.q_embedding_lsh_recall_hi(spark, SF_SMALL).collect()[0]
    assert rec["recall"] >= 0.97
    assert rec["n_found"] <= rec["n_true_pairs"]


def test_hi_lsh_pairs_are_verified_subset(spark):
    """Every emitted hi pair really clears the threshold, and every
    pair is (original, its own twin) on this fixture — the cross-pair
    manufacture check at pair grain."""
    from pyspark.sql import functions as F

    from projet_etl_spark.operators import dedup

    rows = dedup.q_dedup_embedding_lsh_hi(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["cos"] >= dedup.HI_COSINE_THRESHOLD
        assert r["vec_b"] == r["vec_a"] + dedup.PLANT_OFFSET
        assert r["vec_a"] % dedup.PLANT_MOD == 0


def test_planted_vectors_bit_exact_cross_engine(spark):
    """The plant construction is bit-identical in Spark and DuckDB
    (exact-EPS recipe + explicit planted-id seed — the alias-binding
    divergence this device hit is pinned here)."""
    import duckdb

    from pyspark.sql import functions as F

    from projet_etl_spark.operators import dedup
    from projet_etl_spark.plans import extensions as E

    sv = {
        r["vec_id"]: r["v"]
        for r in dedup.planted_embeddings(spark, SF_SMALL)
        .filter(F.col("vec_id") >= dedup.PLANT_OFFSET)
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet')"
    )
    drows = con.execute(
        f"SELECT vec_id + {dedup.PLANT_OFFSET} AS vec_id, {E._PLANT_V} AS v "
        f"FROM embeddings WHERE vec_id % {dedup.PLANT_MOD} = 0"
    ).fetchall()
    assert len(drows) == len(sv)
    for vid, dv in drows:
        assert sv[vid] == list(dv)  # bit-for-bit float64 equality


# ---------------------------------------------------------------
# URL-frontier store (r11 verdict item 4)
# ---------------------------------------------------------------


def test_url_frontier_store_matches_rescan(spark):
    """Stream-vs-rescan parity: the frontier folded from the
    incremental (url, snap) partials equals the one-shot batch
    keep-first-fetch export row for row — the store discipline gate
    for the crawl-frontier table."""
    from projet_etl_spark.operators.domains import q_url_canonical_fetches
    from projet_etl_spark.streaming.storequery import q_url_frontier_store

    store_rows = sorted(
        tuple(r) for r in q_url_frontier_store(spark, SF_SMALL).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in q_url_canonical_fetches(spark, SF_SMALL).collect()
    )
    assert store_rows == batch_rows
    assert store_rows  # non-degenerate: the fixture has URLs


def test_frontier_partials_are_chunking_invariant(spark):
    """The store's (url, snap) partial grain merges to the same
    frontier no matter how the fetch log was micro-batched: folding
    partials computed over two disjoint halves equals folding the
    whole — the additivity contract read_url_frontier relies on."""
    from pyspark.sql import functions as F

    from projet_etl_spark.sources.tables import load_table
    from projet_etl_spark.streaming.frontier import frontier_of_batch

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id")
    whole = frontier_of_batch(docs)
    halves = frontier_of_batch(docs.filter(F.col("doc_id") % 2 == 0)).unionByName(
        frontier_of_batch(docs.filter(F.col("doc_id") % 2 == 1))
    )

    def fold(df):
        return sorted(
            tuple(r)
            for r in df.groupBy("url")
            .agg(
                F.min("first_doc_id").alias("f"),
                F.sum("n").alias("n"),
                F.countDistinct("snap").alias("s"),
            )
            .collect()
        )

    assert fold(whole) == fold(halves)


def test_semantic_exemplars_hi_partitions_planted_corpus(spark):
    """The prune export at the deployment threshold is a partition of
    the planted corpus: exemplar member counts sum to |corpus|, every
    found pair collapses to one n_vectors=2 exemplar at the ORIGINAL
    id, and misses surface as singleton twins — so
    n_pairs_found = recall twin's n_found exactly."""
    from projet_etl_spark.operators import dedup
    from projet_etl_spark.operators.clusters import q_semantic_exemplars_hi

    rows = q_semantic_exemplars_hi(spark, SF_SMALL).collect()
    n_corpus = dedup.planted_embeddings(spark, SF_SMALL).count()
    assert sum(r["n_vectors"] for r in rows) == n_corpus
    pairs = [r for r in rows if r["n_vectors"] == 2]
    assert pairs and all(r["n_vectors"] in (1, 2) for r in rows)
    # every 2-cluster's exemplar is an original (min id of the pair)
    assert all(r["vec_id"] < dedup.PLANT_OFFSET for r in pairs)
    rec = dedup.q_embedding_lsh_recall_hi(spark, SF_SMALL).collect()[0]
    assert len(pairs) == rec["n_found"]


def test_embedding_pairs_store_matches_rescan(spark):
    """Incremental-vs-one-shot parity for the deployment-threshold
    embedding dedup: the union of the stream's per-batch pair
    emissions equals the batch banded query on the full corpus —
    and because the replay is vec_id-ordered (originals first, twins
    last), EVERY true pair crosses a batch boundary: the equality is
    evidence for the batch x STORE path specifically."""
    from projet_etl_spark.operators.dedup import (
        PLANT_OFFSET,
        q_dedup_embedding_lsh_hi,
    )
    from projet_etl_spark.streaming.storequery import q_embedding_pairs_store

    store_rows = sorted(
        tuple(r) for r in q_embedding_pairs_store(spark, SF_SMALL).collect()
    )
    batch_rows = sorted(
        tuple(r) for r in q_dedup_embedding_lsh_hi(spark, SF_SMALL).collect()
    )
    assert store_rows == batch_rows
    assert store_rows
    # the replay-ordering contract: every true pair spans the
    # original/twin id split, so none could come from batch x batch
    # joins alone once the chunking splits at PLANT_OFFSET
    assert all(a < PLANT_OFFSET <= b for a, b, _ in store_rows)


def test_emb_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Re-running a micro-batch (at-least-once foreachBatch) rewrites
    exactly its own partitions: pairs are not duplicated and the
    history filter (batch < current) keeps a replayed batch from
    pairing vectors with themselves."""
    from projet_etl_spark.streaming.embdedup import (
        emb_dedup_batch,
        read_emb_pairs,
    )
    from projet_etl_spark.operators.dedup import planted_embeddings
    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    corpus = planted_embeddings(spark, SF_SMALL)
    b0 = corpus.filter(F.col("vec_id") % 3 == 0).filter(
        F.col("vec_id") < 10_000_000
    ).limit(30)
    b1 = corpus.filter(F.col("vec_id") >= 10_000_000).limit(30)
    emb_dedup_batch(b0, 0, store, pairs)
    emb_dedup_batch(b1, 1, store, pairs)
    once = sorted(tuple(r) for r in read_emb_pairs(spark, pairs).collect())
    emb_dedup_batch(b1, 1, store, pairs)  # replay batch 1
    twice = sorted(tuple(r) for r in read_emb_pairs(spark, pairs).collect())
    assert once == twice
    assert once  # the twins in b1 found their originals in b0's store


def test_rphi_band_bits_staircase():
    """The production band-width knob: monotone in N, pinned at the
    fixture geometry through both certified SFs and the 10x fixture,
    and at any returned width the chance-collision mass stays at or
    below the true-pair density (the subquadratic invariant)."""
    from projet_etl_spark.operators import dedup

    ns = [1, 667, 2667, 26667, 260_000, 1_000_000, 10_000_000]
    widths = [dedup.rphi_band_bits_for(n) for n in ns]
    assert widths == sorted(widths)
    assert dedup.rphi_band_bits_for(26667) >= dedup.RPHI_BAND_BITS
    # the subquadratic invariant holds for every N the unclamped
    # staircase can serve (want <= 24); past the ceiling the knob
    # pins there and the prescription is partition-disjoint shards
    for n in (260_000, 1_000_000):
        b = dedup.rphi_band_bits_for(n)
        chance = dedup.RPHI_BANDS * n * (n - 1) / 2 / 2**b
        assert chance <= n / dedup.PLANT_MOD * 2  # within 2x of true density
    assert dedup.rphi_band_bits_for(10_000_000) == 24  # shard boundary
    assert max(widths) <= 24  # oracle-replayable ceiling


def test_canonical_url_seeded_fuzz_cross_engine(spark):
    """300 seeded-random composed URLs (scheme/userinfo/sub/host/
    suffix/port/path/params/fragment arms, including 'ref'-substring
    traps in every position) through BOTH engines: byte equality and
    idempotence. Extends the hand-picked adversarial grid to the
    composition space."""
    import random

    import duckdb

    from projet_etl_spark.functions import web

    rng = random.Random(1207)
    schemes = ["https://", "HTTP://", "", "ftp://"]
    users = ["", "user@", "u:p@"]
    subs = ["", "www.", "cdn.", "a.b."]
    hosts = ["example", "ref", "pref", "site-1"]
    sufs = [".com", ".co.uk", ".org", ".gob.mx", ".k12.tr"]
    ports = ["", ":443", ":8080"]
    paths = ["/", "/x", "/ref=1/y", "/a&b", "/deep/path/", ""]
    params = ["", "?a=1", "?ref=x", "?pref=h", "?utm_source=f&b=2",
              "?b=2&utm_medium=m", "?href=q&ref=z", "?gclid=1",
              "?refresh=9&utm_a=b", "?a=1&b=2&fbclid=x"]
    frags = ["", "#f", "#ref=frag?x=1"]
    urls = [
        "".join(
            rng.choice(arm)
            for arm in (schemes, users, subs, hosts, sufs, ports, paths,
                        params, frags)
        )
        for _ in range(300)
    ]
    sdf = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    ).select("i", "url", web.canonical_url(F.col("url")).alias("c"))
    sdf = sdf.select("i", "c", web.canonical_url(F.col("c")).alias("cc"))
    srows = [(r["c"], r["cc"]) for r in sdf.orderBy("i").collect()]
    assert all(c == cc for c, cc in srows)  # idempotent on all 300
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE u AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{u}')" for i, u in enumerate(urls))
        + ") t(i, url)"
    )
    drows = [
        r[0]
        for r in con.execute(
            f"SELECT {web.sql_canonical_url('url')} FROM u ORDER BY i"
        ).fetchall()
    ]
    assert [c for c, _ in srows] == drows


def test_writer_lock_mutual_exclusion_under_contention(tmp_path):
    """Real concurrency witness: 8 processes each acquire/release the
    same lock 5 times around a critical section that detects any
    overlap (a marker file that must not exist on entry and must
    still exist at exit). Each child reports its overlaps and its
    starved rounds (2000 refused attempts in a row) as one JSON line,
    so a failure names the child and the kind."""
    import json
    import subprocess
    import sys
    import textwrap

    p = str(tmp_path / "t")
    script = textwrap.dedent(f"""
        import json, os, sys, time
        sys.path.insert(0, {REPO_ROOT!r})
        from projet_etl_spark.sources import ingest
        path = {p!r}
        marker = path + ".inside"
        overlaps = starved = 0
        for i in range(5):
            for attempt in range(2000):
                try:
                    with ingest._writer_lock(path):
                        if os.path.exists(marker):
                            overlaps += 1  # another holder is inside
                        open(marker, "w").close()
                        time.sleep(0.002)
                        try:
                            os.remove(marker)
                        except FileNotFoundError:
                            overlaps += 1  # another holder removed it
                    break
                except ingest.StoreWriterConflict:
                    time.sleep(0.001)
            else:
                starved += 1  # never acquired this round
        print(json.dumps({{"overlaps": overlaps, "starved": starved}}))
    """)
    procs = [
        subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True)
        for _ in range(8)
    ]
    outs = [pr.communicate(timeout=600)[0] for pr in procs]
    for i, (pr, out) in enumerate(zip(procs, outs)):
        assert pr.returncode == 0, f"child {i} crashed with exit {pr.returncode}"
        report = json.loads(out.strip().splitlines()[-1])
        assert report["overlaps"] == 0, f"child {i}: two holders at once: {report}"
        assert report["starved"] == 0, f"child {i}: starved: {report}"
    assert not os.path.exists(p + "._writerlock")  # all released
