"""Round-6 additions: streaming store→query parity as a registry
entry, and the approx-percentile twin of the decile pattern."""

from __future__ import annotations

import pyspark.sql.functions as F

from projet_etl_spark.operators.star import (
    q_customer_spend_deciles,
    q_customer_spend_deciles_approx,
)
from projet_etl_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMALL, assert_matches_oracle


def test_daily_counts_store_matches_oracle(spark, duck, tmp_path, monkeypatch):
    """The registry entry rebuilds the store through the real
    streaming path and must equal a plain GROUP BY over raw events."""
    from projet_etl_spark.streaming import storequery

    monkeypatch.setattr(storequery, "STORE_ROOT", str(tmp_path / "stores"))
    spec = REGISTRY["daily-counts-store"]
    assert_matches_oracle(
        spec.fn(spark, SF_SMALL), duck, spec.oracle, "daily-counts-store"
    )


def test_daily_counts_store_reuses_fingerprinted_build(spark, tmp_path, monkeypatch):
    """Second call must reuse the store (marker hit), and the store
    dir must hold one partition per non-empty micro-batch."""
    import os

    from projet_etl_spark.streaming import storequery

    monkeypatch.setattr(storequery, "STORE_ROOT", str(tmp_path / "stores"))
    store1 = storequery.ensure_daily_counts_store(spark, SF_SMALL)
    mtime = os.path.getmtime(store1)
    store2 = storequery.ensure_daily_counts_store(spark, SF_SMALL)
    assert store1 == store2
    assert os.path.getmtime(store2) == mtime  # no rebuild
    batches = [d for d in os.listdir(store1) if d.startswith("batch=")]
    assert len(batches) >= 2  # genuinely incremental, not one big batch
    # the replayed event chunks are deleted once the stream is done
    assert not os.path.exists(os.path.join(os.path.dirname(store1), "chunks"))


def test_deciles_approx_twin_within_rank_error(spark):
    """approx_percentile boundary swap: bucket counts must conserve
    the population and stay within the sketch's rank-error envelope
    of the exact discrete-order-statistics result."""
    exact = {
        r["decile"]: r for r in q_customer_spend_deciles(spark, SF_SMALL).collect()
    }
    approx = {
        r["decile"]: r
        for r in q_customer_spend_deciles_approx(spark, SF_SMALL).collect()
    }
    n_exact = sum(r["n_customers"] for r in exact.values())
    n_approx = sum(r["n_customers"] for r in approx.values())
    assert n_exact == n_approx  # every customer lands in exactly one bucket
    total_exact = sum(r["total_spend"] for r in exact.values())
    total_approx = sum(r["total_spend"] for r in approx.values())
    assert total_exact == total_approx  # spend is conserved
    # rank error <= n/accuracy per boundary; allow 2 customers of
    # slack per bucket on tiny fixtures
    tol = max(2, (2 * n_exact) // 1000)
    for d in range(10):
        ne = exact[d]["n_customers"] if d in exact else 0
        na = approx[d]["n_customers"] if d in approx else 0
        assert abs(ne - na) <= tol, (d, ne, na)


def test_deciles_exact_boundaries_are_data_values(spark):
    """Every min/max bucket edge of the exact query is an actual
    customer spend (discrete statistics, no interpolation): bucket
    mins/maxes partition the sorted spends contiguously."""
    from projet_etl_spark.sources.tables import load_table

    res = q_customer_spend_deciles(spark, SF_SMALL).collect()
    # the query presents spends as DOUBLE (engine output contract);
    # float(Decimal) is the same nearest-double, so equality is exact
    spends = sorted(
        float(r["spend"])
        for r in (
            load_table(spark, SF_SMALL, "orders")
            .select("o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("p"))
            .groupBy("o_custkey")
            .agg(F.sum("p").cast("decimal(18,2)").alias("spend"))
            .collect()
        )
    )
    spend_set = set(spends)
    lo = 0
    for r in sorted(res, key=lambda r: r["decile"]):
        assert r["min_spend"] in spend_set and r["max_spend"] in spend_set
        seg = spends[lo : lo + r["n_customers"]]
        assert seg[0] == r["min_spend"] and seg[-1] == r["max_spend"]
        lo += r["n_customers"]
    assert lo == len(spends)


def test_bucketed_join_matches_oracle_and_is_shuffle_free(spark, duck):
    """The bucketed-layout query must equal the plain join (layout
    invariance) and the underlying fact-fact join must plan WITHOUT a
    shuffle exchange on either side once broadcast is ruled out."""
    from projet_etl_spark.sources.warehouse import ensure_bucketed_star

    spec = REGISTRY["orders-bucketed-join"]
    assert_matches_oracle(
        spec.fn(spark, SF_SMALL), duck, spec.oracle, "orders-bucketed-join"
    )
    db = ensure_bucketed_star(spark, SF_SMALL)
    li = spark.table(f"{db}.lineitem")
    o = spark.table(f"{db}.orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Exchange hashpartitioning" not in plan


def test_bucketed_star_reuses_fingerprinted_layout(spark):
    """Second ensure call must be a catalog-probe no-op (no rebuild)."""
    import time

    from projet_etl_spark.sources.warehouse import ensure_bucketed_star

    db1 = ensure_bucketed_star(spark, SF_SMALL)
    t0 = time.perf_counter()
    db2 = ensure_bucketed_star(spark, SF_SMALL)
    assert db1 == db2
    assert time.perf_counter() - t0 < 2.0  # probe, not a rewrite


def test_neardedup_pairs_store_equals_batch_lsh(spark, tmp_path, monkeypatch):
    """The streamed pair union served by the registry entry must
    equal the one-shot batch minhash-LSH on the same corpus."""
    from projet_etl_spark.operators.dedup import q_dedup_minhash_lsh
    from projet_etl_spark.streaming import storequery

    monkeypatch.setattr(
        storequery, "NEARDEDUP_ROOT", str(tmp_path / "nd_pairs")
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in storequery.q_neardedup_pairs_store(spark, SF_SMALL).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q_dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert got == want and want  # equal AND non-trivial
