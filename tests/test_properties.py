"""Property-based checks (SURVEY.md §5): the distributed weighted
top-k must equal a brute-force driver-side recomputation on random
small inputs, and the whitespace-CSV reader must round-trip random
rows under arbitrary spacing."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from projet_etl_spark.schemas import PRODUITS_SCHEMA
from projet_etl_spark.sources.ingest import read_whitespace_csv

rows_strategy = st.lists(
    st.tuples(
        st.integers(1, 5),  # magid
        st.none() | st.integers(1, 4),  # fabid, NULL allowed
        st.integers(1, 3),  # catid
        st.integers(1, 6),  # prodid
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_weighted_topk_matches_bruteforce(spark, rows):
    df = spark.createDataFrame(
        rows, "magid long, fabid long, catid long, prodid long"
    )
    from pyspark.sql import functions as F

    from projet_etl_spark.functions.aggs import distinct_count
    from projet_etl_spark.functions.scores import score4

    got = (
        df.groupBy("magid")
        .agg(
            distinct_count("fabid").alias("f"),
            distinct_count("catid").alias("c"),
            distinct_count("prodid").alias("p"),
            F.count(F.lit(1)).alias("v"),
        )
        .withColumn("score", score4(F.col("f"), F.col("c"), F.col("p"), F.col("v")))
        .orderBy(F.desc("score"), F.asc("magid"))
        .limit(3)
        .collect()
    )
    # brute force in plain python
    per = {}
    for m, f, c, p in rows:
        per.setdefault(m, []).append((f, c, p))
    scored = []
    for m, obs in per.items():
        f = len({o[0] for o in obs} - {None})
        c = len({o[1] for o in obs})
        p = len({o[2] for o in obs})
        v = len(obs)
        scored.append((f * 0.1 + c * 0.2 + p * 0.3 + v * 0.4, m, f, c, p, v))
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = scored[:3]
    assert [(r.magid, r.f, r.c, r.p, r.v) for r in got] == [
        (m, f, c, p, v) for _, m, f, c, p, v in want
    ]
    for r, (s, *_rest) in zip(got, want):
        assert abs(r.score - s) < 1e-9


@given(
    rows=st.lists(
        st.tuples(
            st.dates(datetime.date(1995, 1, 1), datetime.date(2001, 12, 31)),
            st.integers(1, 10**6),
            st.integers(1, 10**4),
            st.integers(1, 10**4),
        ),
        min_size=1,
        max_size=20,
    ),
    seps=st.lists(st.integers(1, 5), min_size=4, max_size=4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_whitespace_csv_roundtrip_random(spark, tmp_path_factory, rows, seps):
    tmp = tmp_path_factory.mktemp("ws")
    lines = ["DateID" + " " * seps[0] + "ProdID" + " " * seps[1] + "CatID" + " " * seps[2] + "FabID"]
    for d, p, c, f in rows:
        lines.append(
            f"{d.strftime('%Y%m%d')}{' ' * seps[1]}{p}{' ' * seps[2]}{c}{' ' * seps[3]}{f}"
        )
    src = tmp / "in.csv"
    src.write_text("\n".join(lines) + "\n")
    df = read_whitespace_csv(spark, str(src), PRODUITS_SCHEMA)
    got = sorted(
        [(r.dateid, r.prodid, r.catid, r.fabid) for r in df.collect()]
    )
    assert got == sorted(rows)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c\tx"),  # forces token boundary cases
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_shingles_k_matches_duckdb(spark, texts, k):
    """shingles_k and sql_shingles_k must produce identical distinct
    k-gram sets for arbitrary whitespace-mangled text — the parity the
    decontamination oracle rests on."""
    import duckdb
    from pyspark.sql import functions as F

    from projet_etl_spark.functions.text import (
        SQL_TOKENS,
        shingles_k,
        sql_shingles_k,
        tokens,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: sorted(r.sh)
        for r in df.select(
            "doc_id", tokens(F.col("text")).alias("t")
        ).select("doc_id", shingles_k(F.col("t"), k).alias("sh")).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") v(doc_id, text)",
        list(texts),
    )
    tok = SQL_TOKENS.format(col="text")
    want = {
        r[0]: sorted(r[1])
        for r in con.execute(
            f"SELECT doc_id, {sql_shingles_k(f'({tok})', k)} FROM documents"
        ).fetchall()
    }
    con.close()
    assert got == want


@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=300, deadline=None)
def test_round6_half_up_matches_decimal_reference(values):
    """The scorer's vectorized rounding must equal BigDecimal-style
    HALF_UP on the shortest decimal representation for ANY double —
    including values the fast path's margin must reroute (ADVICE r3:
    the trunc formula alone can land on the wrong side of .5)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from projet_etl_spark.operators.inference import _round6_half_up

    got = _round6_half_up(np, np.asarray(values, dtype=np.float64))
    q = Decimal("0.000001")
    want = [
        float(Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP))
        for v in values
    ]
    assert list(got) == want, (values, list(got), want)


@given(
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, allow_infinity=False),
        min_size=4,
        max_size=4,
    ),
    st.floats(min_value=-1, max_value=1, allow_nan=False, allow_infinity=False),
)
@settings(max_examples=50, deadline=None)
def test_scorer_matches_decimal_reference_random_weights(weights, bias):
    """End-to-end make_scorer over random weights/bias: scores equal
    the decimal-reference rounding of the left-assoc dot + bias."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from projet_etl_spark.operators.inference import make_scorer

    rng = [
        [((7 * i + 3 * j) % 19 - 9) / 8.3 for i in range(4)] for j in range(32)
    ]
    pdf = pd.DataFrame({"vec_id": range(len(rng)), "embedding": rng})
    (out,) = make_scorer(weights, bias)(iter([pdf]))
    q = Decimal("0.000001")
    for row_vals, got in zip(rng, out["score"]):
        acc = np.float64(0.0)
        for x, w in zip(row_vals, weights):
            acc = acc + np.float64(x) * np.float64(w)
        raw = float(acc + np.float64(bias))
        want = float(Decimal(repr(raw)).quantize(q, rounding=ROUND_HALF_UP))
        assert got == want, (row_vals, raw, got, want)


spends_strategy = st.lists(
    st.tuples(
        st.integers(1, 30),  # custkey
        st.integers(100, 2_000_000),  # order price in cents
    ),
    min_size=10,
    max_size=80,
)


@given(rows=spends_strategy)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_spend_deciles_match_bruteforce(spark, rows, tmp_path_factory):
    """The broadcast-boundary decile assignment must agree with a
    driver-side recomputation of the same DISCRETE order-statistic
    rule (boundary i = spend at rank ceil(i*n/10), strict > bucket
    count) on random 2-dp spends."""
    from projet_etl_spark.operators.star import q_customer_spend_deciles

    root = str(tmp_path_factory.mktemp("deciles"))
    df = spark.createDataFrame(
        [(c, cents / 100.0, "O", datetime.datetime(1996, 1, 1), "x", 1)
         for c, cents in rows],
        "o_custkey long, o_totalprice double, o_orderstatus string, "
        "o_orderdate timestamp, o_orderpriority string, o_orderkey long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    got = {
        r["decile"]: (r["n_customers"], float(r["min_spend"]), float(r["max_spend"]))
        for r in q_customer_spend_deciles(spark, root).collect()
    }
    # brute force: exact cent sums per customer -> doubles
    cents_by_cust: dict[int, int] = {}
    for c, cents in rows:
        cents_by_cust[c] = cents_by_cust.get(c, 0) + cents
    spends = sorted(v / 100.0 for v in cents_by_cust.values())
    n = len(spends)
    bounds = [spends[((i * n + 9) // 10) - 1] for i in range(1, 10)]
    want: dict[int, list[float]] = {}
    for s in spends:
        d = sum(s > b for b in bounds)
        want.setdefault(d, []).append(s)
    assert got == {
        d: (len(v), min(v), max(v)) for d, v in want.items()
    }
