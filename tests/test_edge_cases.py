"""SURVEY.md §2.10.6 edge cases on a crafted micro star schema:
stores missing from stage-2 (left-join default 0), months with no
data inside the spine (gap fill + exclusion from the overall avg),
and score ties at the top-k boundary — each checked Spark-vs-DuckDB
on the same parquet files, plus direct value assertions.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.plans.oracles import score_sante_mois_avg_sql, score_sante_mois_sql
from projet_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMALL, TABLES, assert_matches_oracle

CAT = "Brand#4"
FAB = 42


def _write_star(spark, root, sales, brands=None):
    """Write lineitem, orders and part for ``sales``: one single-line
    order per (orderkey, store, partkey, supplier, shipdate) tuple, all
    parts in category CAT unless ``brands`` maps the partkey to
    another (or to None)."""
    # lineitem: (orderkey, partkey, suppkey, linenumber, qty, price,
    #            disc, tax, rflag, lstatus, shipdate)
    li = [
        (orderkey, partkey, supp, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", when)
        for orderkey, _store, partkey, supp, when in sales
    ]
    orders = [
        (orderkey, store, "O", 100.0, when, "1-URGENT")
        for orderkey, store, _partkey, _supp, when in sales
    ]
    part = [
        (p, f"part{p}", (brands or {}).get(p, CAT), "t", 1, 1.0)
        for p in sorted({s[2] for s in sales})
    ]

    spark.createDataFrame(
        li,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/lineitem.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    spark.createDataFrame(
        part,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/part.parquet")


def _write_micro_star(spark, root):
    """3 stores x 2 months of data inside a 6-month window.

    - store 1: products from fab 42 and fab 7
    - store 2: products only from fab 7  -> nb_produits_fab = 0 (J2)
    - store 3: identical rows to store 2 -> exact score tie (O4)
    - all activity in 1996-01 and 1996-03; 1996-02 and 1996-04..06
      are empty months inside the epoch..as_of spine (M3 gap fill)
    """
    d1 = datetime.datetime(1996, 1, 10)
    d3 = datetime.datetime(1996, 3, 10)
    _write_star(spark, root, [
        (1, 1, 101, FAB, d1),
        (2, 1, 102, 7, d1),
        (3, 1, 103, FAB, d3),
        (4, 2, 104, 7, d1),
        (5, 2, 105, 7, d3),
        (6, 3, 104, 7, d1),  # mirrors store 2 -> tie on every count
        (7, 3, 105, 7, d3),
    ])


def _duck_over(root):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet/*.parquet')"
        )
    for t in TABLES:
        if t not in ("lineitem", "orders", "part"):
            con.execute(f"CREATE VIEW {t} AS SELECT 1 AS dummy")
    return con


@pytest.fixture(scope="module")
def micro(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("micro_star"))
    _write_micro_star(spark, root)
    con = _duck_over(root)
    yield root, con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "top-magasins",
        "top-magasins-cat",
        "top-1",
        "avg-prod-per-fab",
        "top-magasins-rollup",
        "avg-cat-fab-10-mag",
        "avg-cat-fab-10-mag-avg",
        "score-sante-touts-les-mois",
        "score-sante-touts-les-mois-avg",
        "score-evolution",
    ],
)
def test_micro_star_matches_oracle(spark, micro, name):
    root, con = micro
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, root), con, spec.oracle, f"micro:{name}")


def test_m2_left_join_default_zero(spark, micro):
    root, _ = micro
    rows = {r.magid: r for r in REGISTRY["avg-cat-fab-10-mag"].fn(spark, root).collect()}
    assert rows[1].nb_produits_fab == 2  # parts 101, 103 from fab 42
    assert rows[2].nb_produits_fab == 0  # store without the fab: default 0
    assert rows[3].nb_produits_fab == 0
    assert rows[2].percentage == 0.0
    # average still counts the zero stores (denominator nonzero):
    # (2/3*100 + 0 + 0) / 3
    avg = REGISTRY["avg-cat-fab-10-mag-avg"].fn(spark, root).collect()[0].average
    assert abs(avg - (2 / 3 * 100) / 3) < 1e-6


def test_m3_gap_months_emit_zero_but_dont_count(spark, micro):
    root, _ = micro
    # pin the window to 1996-01..1996-06 via the month spine defaults:
    # use the operator directly with explicit epoch/as_of
    from projet_etl_spark.operators.composite import (
        q_score_sante_mois,
        q_score_sante_mois_avg,
    )

    months = {
        r.mois_annee: r.avg_percentage
        for r in q_score_sante_mois(
            spark, root, epoch="1996-01-01", as_of="1996-06-30"
        ).collect()
    }
    assert len(months) == 6
    assert months["1996-02"] == 0.0  # gap month emitted as 0.0
    assert months["1996-04"] == 0.0
    assert months["1996-01"] > 0 and months["1996-03"] > 0
    # overall avg over ONLY the 2 non-empty months
    avg = (
        q_score_sante_mois_avg(spark, root, epoch="1996-01-01", as_of="1996-06-30")
        .collect()[0]
        .average
    )
    assert abs(avg - (months["1996-01"] + months["1996-03"]) / 2) < 1e-6


def test_topk_tie_broken_by_magid(spark, micro):
    root, _ = micro
    rows = REGISTRY["top-magasins-cat"].fn(spark, root).collect()
    tied = [r for r in rows if r.magid in (2, 3)]
    assert tied[0].score == tied[1].score  # genuine tie
    order = [r.magid for r in rows if r.magid in (2, 3)]
    assert order == [2, 3]  # deterministic asc tiebreak


# whole months (the rollup twin needs them) holding no sales
EMPTY_WINDOW = ("1990-01-01", "1990-06-30")
_PER_STORE_DISTINCT = (
    "top-magasins",
    "top-magasins-cat",
    "top-1",
    "avg-prod-per-fab",
    "top-magasins-rollup",
    "avg-cat-fab-10-mag",
    "score-sante-touts-les-mois",
)


def _write_null_fab_star(spark, root):
    """NULL fabids under the per-store distinct counts.

    - store 1: fab 42 and fab 7 products, plus one NULL-fab line
    - store 4: every line has a NULL fabid -> 0 manufacturers
    - store 5: product 106 sold once with fab 42 and once with NULL
    """
    d1 = datetime.datetime(1996, 1, 10)
    d3 = datetime.datetime(1996, 3, 10)
    _write_star(spark, root, [
        (1, 1, 101, FAB, d1),
        (2, 1, 102, 7, d3),
        (3, 1, 103, None, d3),
        (4, 4, 104, None, d1),
        (5, 4, 105, None, d3),
        (6, 4, 104, None, d3),
        (7, 5, 106, FAB, d1),
        (8, 5, 106, None, d1),
    ])


@pytest.fixture(scope="module")
def null_fab(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("null_fab_star"))
    _write_null_fab_star(spark, root)
    con = _duck_over(root)
    yield root, con
    con.close()


def _windowed(name, lo, hi):
    """(keyword arguments, oracle SQL) of ``name`` over [lo, hi]."""
    if name == "score-sante-touts-les-mois":
        return {"epoch": lo, "as_of": hi}, score_sante_mois_sql(lo, hi)
    if name == "score-sante-touts-les-mois-avg":
        return {"epoch": lo, "as_of": hi}, score_sante_mois_avg_sql(lo, hi)
    sql = REGISTRY[name].oracle
    for default, bound in ((DEFAULTS["debut"], lo), (DEFAULTS["fin"], hi)):
        assert f"DATE '{default}'" in sql, name
        sql = sql.replace(f"DATE '{default}'", f"DATE '{bound}'")
    return {"debut": lo, "fin": hi}, sql


@pytest.mark.parametrize("window", ["default", "empty"])
@pytest.mark.parametrize("name", _PER_STORE_DISTINCT)
def test_null_fab_star_matches_oracle(spark, null_fab, name, window):
    root, con = null_fab
    spec = REGISTRY[name]
    if window == "default":
        df, sql = spec.fn(spark, root), spec.oracle
    else:
        kwargs, sql = _windowed(name, *EMPTY_WINDOW)
        df = spec.fn(spark, root, **kwargs)
    assert_matches_oracle(df, con, sql, f"null-fab:{name}:{window}")


@pytest.mark.parametrize("name", ["top-magasins", "top-magasins-cat", "top-magasins-rollup"])
def test_all_null_fab_store_counts_zero(spark, null_fab, name):
    root, _ = null_fab
    rows = {r.magid: r for r in REGISTRY[name].fn(spark, root).collect()}
    assert rows[4].total_fabricants == 0  # not NULL, not -1
    assert rows[4].total_produits == 2
    assert rows[5].total_fabricants == 1 and rows[5].total_produits == 1


@pytest.mark.parametrize(
    "name", ["score-sante-touts-les-mois", "score-sante-touts-les-mois-avg"]
)
def test_reversed_month_range_matches_oracle(spark, micro, name):
    """epoch after as_of: the oracle's generate_series is empty, so
    the series has no rows and its average is 0.0."""
    root, con = micro
    kwargs, sql = _windowed(name, "1998-06-01", "1995-01-01")
    df = REGISTRY[name].fn(spark, root, **kwargs)
    assert_matches_oracle(df, con, sql, f"reversed:{name}")
    if name.endswith("-avg"):
        assert df.collect()[0].average == 0.0


COMPOSITES = (
    "top-1",
    "avg-cat-fab-10-mag",
    "avg-cat-fab-10-mag-avg",
    "score-sante-touts-les-mois",
    "score-sante-touts-les-mois-avg",
)


def _write_null_edge_star(spark, root):
    """NULL edges of the composites' conditional aggregates.

    - store 1: in-window sales of both fabs, plus fab-42 lines with a
      NULL shipdate (stage 2 counts them, stage 1 never does)
    - store 6: in-window sales, half of them of a part whose brand is
      NULL (no category)
    - store 7: in-window sales of fab 7; its only fab-42 lines are in
      2003, outside every window
    - store 8: in-window fab-7 sales; its fab-42 lines are in 1999,
      inside the score-sante window but outside top-magasins-cat's
    - store 9: only NULL-brand parts, in window (in the global top-10,
      never in the category)
    - store 10: the most category lines of all, every one with a NULL
      shipdate, so never in a top-10
    """
    d1 = datetime.datetime(1996, 1, 10)
    d3 = datetime.datetime(1996, 3, 10)
    d99 = datetime.datetime(1999, 5, 10)
    d03 = datetime.datetime(2003, 2, 10)
    sales = [
        (1, 1, 101, FAB, d1),
        (2, 1, 102, 7, d3),
        (3, 1, 103, FAB, None),
        (4, 1, 104, FAB, None),
        (5, 6, 101, FAB, d1),
        (6, 6, 201, FAB, d1),
        (7, 6, 201, 7, d3),
        (8, 7, 102, 7, d1),
        (9, 7, 105, FAB, d03),
        (10, 8, 102, 7, d3),
        (11, 8, 106, FAB, d99),
        (12, 9, 201, 7, d1),
        (13, 9, 202, FAB, d3),
    ] + [(20 + i, 10, 110 + i, FAB, None) for i in range(6)]
    _write_star(spark, root, sales, brands={201: None, 202: None})


@pytest.fixture(scope="module")
def null_edge(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("null_edge_star"))
    _write_null_edge_star(spark, root)
    con = _duck_over(root)
    yield root, con
    con.close()


@pytest.mark.parametrize("window", ["default", "empty"])
@pytest.mark.parametrize("name", COMPOSITES + ("top-magasins-cat",))
def test_null_edge_star_matches_oracle(spark, null_edge, name, window):
    root, con = null_edge
    spec = REGISTRY[name]
    if window == "default":
        df, sql = spec.fn(spark, root), spec.oracle
    else:
        kwargs, sql = _windowed(name, *EMPTY_WINDOW)
        df = spec.fn(spark, root, **kwargs)
    assert_matches_oracle(df, con, sql, f"null-edge:{name}:{window}")


def test_null_edge_star_stage_filters(spark, null_edge):
    """The rows the conditional aggregates must drop or keep at 0."""
    root, _ = null_edge
    top1 = REGISTRY["top-1"].fn(spark, root).collect()
    assert [r.magid for r in top1] == [1]  # not 10 (no in-window row)
    m2 = {r.magid: r for r in REGISTRY["avg-cat-fab-10-mag"].fn(spark, root).collect()}
    assert sorted(m2) == [1, 6, 7, 8]  # 9 has no category row, 10 no dated one
    assert m2[1].nb_produits_fab == 3  # the NULL-date lines count in stage 2
    assert m2[7].nb_produits_fab == 1  # fab 42 only in 2003: no date filter
    assert m2[6].nb_produits_fab == 1  # the NULL-brand part is not in the category


def test_funnel_order_constraint(spark):
    """Funnel counts only in-order progressions: a click BEFORE the
    first signup doesn't advance the user; a purchase before the
    qualifying click doesn't either."""
    from projet_etl_spark.operators.funnel import (
        q_funnel_signup_click_purchase,
    )

    t = datetime.datetime
    rows = [
        # u1: full in-order funnel
        (1, "signup", t(2024, 1, 1)), (1, "click", t(2024, 1, 2)),
        (1, "purchase", t(2024, 1, 3)),
        # u2: click precedes signup -> stalls at signup
        (2, "click", t(2024, 1, 1)), (2, "signup", t(2024, 1, 2)),
        # u3: purchase before its click -> stalls at click
        (3, "signup", t(2024, 1, 1)), (3, "purchase", t(2024, 1, 2)),
        (3, "click", t(2024, 1, 3)),
        # u4: never signs up -> not counted anywhere
        (4, "click", t(2024, 1, 1)), (4, "purchase", t(2024, 1, 2)),
    ]
    df = spark.createDataFrame(
        [(u, e, ts, 1.0) for u, e, ts in rows],
        "user_id long, event_type string, ts timestamp, value double",
    )
    import projet_etl_spark.operators.funnel as fu
    import projet_etl_spark.sources.tables as tb

    orig = tb.events
    try:
        fu.events = lambda _s, _d: df
        out = {r.stage: r.n_users for r in
               q_funnel_signup_click_purchase(spark, "unused").collect()}
    finally:
        fu.events = orig
    assert out == {"1_signup": 3, "2_click_after": 2, "3_purchase_after": 1}


def test_moving_avg_frame(spark):
    """7-day frame averages exactly the rows present in the frame
    (ROWS, not RANGE: gaps in the calendar are not zero-filled)."""
    from projet_etl_spark.operators import stats as st

    t = datetime.datetime
    df = spark.createDataFrame(
        [("click", t(2024, 1, d, 12), 1.0) for d in (1, 2, 10)]
        + [("click", t(2024, 1, 10, 13), 1.0)],
        "event_type string, ts timestamp, value double",
    )
    orig = st.events
    try:
        st.events = lambda _s, _d: df.selectExpr(
            "event_type", "ts", "value"
        )
        rows = st.q_daily_moving_avg(spark, "unused").collect()
    finally:
        st.events = orig
    by_day = {r.day: r for r in rows}
    assert by_day["2024-01-10"].n == 2
    # frame holds the three distinct days present, not ten calendar days
    assert by_day["2024-01-10"].avg_7d == pytest.approx((1 + 1 + 2) / 3)
    assert by_day["2024-01-10"].cume_n == 4


def test_anomalies_degenerate_stratum_no_nan(spark, tmp_path):
    """A constant stratum whose naive variance lands BELOW zero in
    doubles (catastrophic cancellation: 0.01 x 3 gives -1.4e-20) must
    produce no anomaly rows — without the greatest(var,0) clamp +
    var>0 pre-filter, Spark emits NaN z rows (NaN compares greater
    than 3) while DuckDB's sqrt(negative) errors out (ADVICE r3)."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_etl_spark.operators.stats import q_events_anomalies
    from projet_etl_spark.plans.extensions import _ANOMALY_SQL

    rows = [("flat", 0.01)] * 3 + [("mix", 1.0)] * 30 + [("mix", 100.0)]
    n = len(rows)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000_000 + i for i in range(n)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array([t for t, _ in rows]),
            "value": pa.array([v for _, v in rows], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    df = q_events_anomalies(spark, str(tmp_path))
    got = df.collect()
    assert got, "the genuine mix-stratum outlier must still be flagged"
    assert all(r.event_type == "mix" for r in got), got
    assert not any(math.isnan(r.z) for r in got), got

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    try:
        assert_matches_oracle(df, con, _ANOMALY_SQL, name="anomalies-degenerate")
    finally:
        con.close()


def test_round5_text_ops_match_oracle_on_edge_corpus(spark, tmp_path):
    """The fixture corpus never exercises degenerate documents; pin
    cross-engine parity of the round-5 text operators on a corpus of
    empties, whitespace-only, single tokens, CJK, punctuation runs
    and heavy repetition (tokenization edge semantics: Spark split or
    DuckDB regexp_split_to_array of an empty string both yield [''],
    and every md5 below hashes the same bytes)."""
    import duckdb

    from projet_etl_spark.plans.registry import REGISTRY

    docs = [
        (0, "", "en"),
        (1, "   ", "en"),
        (2, "one", "en"),
        (3, "早安 世界 早安 世界 早安", "zh"),
        (4, "!!! ??? ... !!!", "fr"),
        (5, "the the the the the the the the", "en"),
        (6, "a b c d e f g h i j a b c d e f g h i j", "de"),
        (7, "a b c d e f g h i j k l m n o p", "es"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the file glob
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    try:
        for name in (
            "text-quality-model-jvm",
            "text-quality-model",
            "corpus-quality-budget",
            "dedup-longest-span",
            "token-freq-cms",
            "sample-stratified-n",
            # empty text: a NULL punctuation ratio, as DuckDB's x / 0
            "text-quality",
            "quality-filter-per-lang",
        ):
            spec = REGISTRY[name]
            assert_matches_oracle(
                spec.fn(spark, str(tmp_path)), con, spec.oracle, f"{name}-edge"
            )
    finally:
        con.close()


def test_quality_scorer_twins_drop_null_text(spark, tmp_path):
    """A null-text document is dropped by both scorer twins: the JVM
    feature explode yields no rows for it, and the Arrow kernel never
    receives it. The registry twins text-quality-model and
    text-quality-model-jvm return the same rows, and they and
    corpus-quality-budget, which reads the Arrow twin's verdict,
    still match their oracles on a corpus holding one."""
    from projet_etl_spark.operators.quality_model import (
        score_documents,
        score_documents_arrow,
    )

    docs = [
        (0, None, "en"),
        (1, "the cat sat on the mat", "en"),
        (2, "", "fr"),
        (3, None, "fr"),
        (4, "bonjour le monde bonjour", "fr"),
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(docs, "doc_id long, text string, lang string").write.parquet(
        path
    )
    frame = spark.read.parquet(path).select("doc_id", "text")
    jvm = sorted(tuple(r) for r in score_documents(frame).collect())
    arrow = sorted(tuple(r) for r in score_documents_arrow(frame).collect())
    assert jvm == arrow
    assert [r[0] for r in arrow] == [1, 2, 4]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    try:
        model, twin = (
            [tuple(r) for r in REGISTRY[n].fn(spark, str(tmp_path)).collect()]
            for n in ("text-quality-model", "text-quality-model-jvm")
        )
        assert model == twin and [r[0] for r in model] == [1, 2, 4]
        for name in (
            "text-quality-model",
            "text-quality-model-jvm",
            "corpus-quality-budget",
        ):
            spec = REGISTRY[name]
            assert_matches_oracle(
                spec.fn(spark, str(tmp_path)), con, spec.oracle, f"{name}-null-text"
            )
    finally:
        con.close()


def test_multimodal_null_payload_matches_oracle(spark, tmp_path):
    """A NULL-text document answers as the oracles do:
    multimodal-bytes keeps its row with NULL features, and
    multimodal-frame-sample emits no frames for it."""
    docs = [
        (0, None, "en", "web"),
        (1, "the cat sat on the mat.", "en", "web"),
        (2, "", "fr", "wiki"),
        (3, None, "fr", "wiki"),
    ]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(i, t, lang, src, len(t or "")) for i, t, lang, src in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(path)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    try:
        for name in ("multimodal-bytes", "multimodal-frame-sample"):
            spec = REGISTRY[name]
            assert_matches_oracle(
                spec.fn(spark, str(tmp_path)), con, spec.oracle, f"{name}-null-text"
            )
    finally:
        con.close()
    feats = {
        r.doc_id: r
        for r in REGISTRY["multimodal-bytes"].fn(spark, str(tmp_path)).collect()
    }
    assert feats[0].n_bytes is None and feats[0].head_hex is None
    assert feats[2].n_bytes == 0 and feats[2].head_hex == ""
    frames = REGISTRY["multimodal-frame-sample"].fn(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in frames} == {1}


def test_event_transitions_tiebreak_on_simultaneous_events(spark, tmp_path):
    """The fixture rarely has same-microsecond events per user; pin
    the (ts, event_id) successor tie-break on a crafted corpus where
    one user fires three simultaneous events (order must come from
    event_id in BOTH engines) and another has no successor at all."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_etl_spark.operators.funnel import q_event_transitions
    from projet_etl_spark.plans.extensions import _TRANSITIONS_SQL

    t0 = 1_700_000_000_000_000  # us
    rows = [
        # user 1: three events at the SAME instant + one later
        (10, t0, 1, "signup"),
        (11, t0, 1, "click"),
        (12, t0, 1, "view"),
        (13, t0 + 5_000_000, 1, "purchase"),
        # user 2: a single event — contributes no transition
        (20, t0, 2, "error"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([0.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df = q_event_transitions(spark, str(tmp_path))
    got = {(r.from_type, r.to_type): r.n for r in df.collect()}
    # event_id order: signup(10) -> click(11) -> view(12) -> purchase(13)
    assert got == {
        ("signup", "click"): 1,
        ("click", "view"): 1,
        ("view", "purchase"): 1,
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    try:
        assert_matches_oracle(df, con, _TRANSITIONS_SQL, "transitions-edge")
    finally:
        con.close()


# --- empty-input robustness -----------------------------------------

# fails LOUDLY on empty input by design: Lloyd seeding needs K rows —
# an empty index is a configuration error, not a late partition
_EMPTY_EXCLUDED = {"kmeans-clusters"}

# queries whose empty-input result is legitimately NON-empty: grand
# aggregates (one zero/NULL row), the dense month spine (a row per
# month at 0.0), funnel stage scaffolding, and audits that emit their
# one summary row
_EMPTY_NONEMPTY_OK = {
    "mag-cat",
    "fab-cat",
    "avg-prod-per-fab",
    "avg-cat-fab-10-mag-avg",
    "score-sante-touts-les-mois",
    "score-sante-touts-les-mois-avg",
    "funnel-signup-click-purchase",
    "dedup-lsh-recall",
    "embedding-lsh-recall",
    # grand aggregate over the (empty) planted corpus: (0, 0, NULL)
    "embedding-lsh-recall-hi",
    # same aggregate shape, wide-geometry banded path (r13)
    "embedding-lsh-recall-hi-wide",
    # and the sharded path's audit (r13)
    "embedding-shard-recall",
    "lineitem-corr-matrix",
    "forecast-revenue-change",
    "promo-revenue-share",
    "disjunctive-parts-revenue",
    "token-zipf-fit",
    "parts-pareto",
    # global aggregate: one (null, 0) row on empty input by SQL rule
    "small-order-revenue",
    # column census: one row per column, zero counts, NULL extremes
    "events-profile",
    # constraint sweep: one row per expectation, zero counts, NULL rate
    "dq-expectations",
    # grand-aggregate summary: one (0, NULL, NULL) row on empty input,
    # same as the DuckDB oracle's aggregate-without-GROUP-BY rule
    "orders-theilsen-trend",
    # rule battery: one row per rule with zero failures on empty input
    "docs-quality-rules",
    # grand-aggregate agreement stat: one all-NULL-margins row with
    # kappa degenerating to 1.0 (identical in the DuckDB oracle)
    "filter-agreement-kappa",
}


def _write_empty(root):
    """Schema-only twins of ALL ten fixture tables, cloned from the
    real fixtures' parquet footers so physical types (timestamp
    vintage, decimals, binary) match the production layout exactly."""
    import pyarrow.parquet as pq

    for t in TABLES:
        schema = pq.read_schema(f"{SF_SMALL}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{root}/{t}.parquet")


@pytest.fixture(scope="module")
def empty_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("empty_tables"))
    _write_empty(root)
    return root


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - _EMPTY_EXCLUDED))
def test_queries_survive_empty_inputs(spark, empty_root, name):
    """EVERY registry query (minus the documented loud-failure set)
    must run to completion on schema-only tables, never crash — the
    contract a scheduled production job relies on when an upstream
    partition lands late. Queries outside _EMPTY_NONEMPTY_OK must
    additionally return zero rows."""
    rows = REGISTRY[name].fn(spark, empty_root).collect()
    if name == "funnel-signup-click-purchase":
        # the funnel emits its stage rows with zero counts
        assert all(r[-1] == 0 for r in rows)
    elif name not in _EMPTY_NONEMPTY_OK:
        assert rows == []
