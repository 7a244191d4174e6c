"""The staged sales table behind both parity views.

``produits`` and ``points_de_vente`` are row filters over one staged
table (sources/tables._sales). These tests pin that the filters give
back the reference joins on a fixture built to break them, that the
table follows its sources, and that it is one data-sized layout.
"""

from __future__ import annotations

import datetime
import os

import pytest

from projet_etl_spark.plans.registry import REGISTRY
from projet_etl_spark.sources import staging, tables
from projet_etl_spark.sources.tables import ORACLE_VIEWS
from tests.conftest import SF_SMALL, assert_matches_oracle
from tests.test_edge_cases import _duck_over
from tests.test_plan_invariants import _iter_physical_nodes

D1 = datetime.datetime(1996, 3, 10)
D2 = datetime.datetime(1997, 6, 2)


def _write_hostile_star(spark, root):
    """lineitem, orders and part holding every case the shared table
    must keep apart:

    - order 1 is written twice (a duplicate o_orderkey);
    - order 2 has a NULL o_custkey;
    - order 9 does not exist, and one line has a NULL l_orderkey;
    - part 5 is written twice, under two brands;
    - part 777 does not exist;
    - one line has a NULL l_shipdate;
    - two lines are written twice (duplicate lineitem rows).
    """
    lineitem = [
        (1, 5, 42, D1),
        (1, 6, 42, D2),
        (2, 6, 7, D1),
        (3, 6, 42, D1),
        (3, 6, 42, D1),  # duplicate row
        (4, 7, 7, D2),
        (4, 7, 7, D2),  # duplicate row
        (9, 6, 42, D1),  # no such order
        (None, 7, 42, D2),  # NULL order key
        (3, 777, 42, D1),  # no such part
        (4, 6, 42, None),  # NULL ship date
        (5, 5, 7, D2),
    ]
    orders = [(1, 10), (1, 11), (2, None), (3, 12), (4, 13), (5, 12)]
    part = [(5, "Brand#4"), (5, "Brand#2"), (6, "Brand#4"), (7, "Brand#2")]
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/lineitem.parquet")
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    spark.createDataFrame(part, "p_partkey long, p_brand string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{root}/part.parquet")


@pytest.fixture()
def hostile(spark, tmp_path):
    root = str(tmp_path)  # a unique basename keys its own staged root
    _write_hostile_star(spark, root)
    con = _duck_over(root)
    yield root, con
    con.close()


def _view_sql(name):
    return f"{ORACLE_VIEWS}\nSELECT * FROM {name}"


def _assert_views_match(spark, root, con, label):
    for name in ("produits", "points_de_vente"):
        df = getattr(tables, name)(spark, root)
        assert_matches_oracle(df, con, _view_sql(name), f"{label}:{name}")


def test_hostile_star_views_equal_their_joins(spark, hostile):
    """Both staged views are bag-equal to the reference joins, and
    the duplicates multiply the rows the joins multiply."""
    root, con = hostile
    _assert_views_match(spark, root, con, "staged")
    staged = os.path.join(tables._SALES_STAGE_ROOT, os.path.basename(root))
    assert os.path.exists(os.path.join(staged, "_SOURCE"))
    pdv = tables.points_de_vente(spark, root)
    assert pdv.filter("prodid = 5 AND dateid = DATE '1996-03-10'").count() == 4
    assert pdv.filter("magid IS NULL").count() == 1
    produits = tables.produits(spark, root)
    assert produits.filter("prodid = 5 AND dateid = DATE '1996-03-10'").count() == 2


def test_hostile_star_lazy_fallback_equals_joins(spark, hostile, monkeypatch):
    """Unfingerprintable sources serve the same filters over the
    unstaged plan."""
    root, con = hostile

    def unstattable(*_args):
        raise OSError("no stat")

    monkeypatch.setattr(staging, "parquet_fingerprint", unstattable)
    roots = _scan_roots(tables.points_de_vente(spark, root))
    assert len(roots) == 3 and not any("parity_views" in r for r in roots), roots
    _assert_views_match(spark, root, con, "lazy")


@pytest.mark.parametrize(
    "name", ["top-magasins", "avg-prod-per-fab", "cat", "mag-cat", "fab-cat"]
)
def test_hostile_star_queries_match_oracle(spark, hostile, name):
    root, con = hostile
    spec = REGISTRY[name]
    assert_matches_oracle(spec.fn(spark, root), con, spec.oracle, f"hostile:{name}")


def test_orders_rewrite_refreshes_both_views(spark, hostile):
    """The staged table's fingerprint covers orders: rewriting only
    orders.parquet rebuilds it, and both views follow."""
    root, con = hostile
    _assert_views_match(spark, root, con, "before")
    spark.createDataFrame(
        [(1, 20), (2, 21), (2, 22), (9, 23)], "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    _assert_views_match(spark, root, con, "after")
    magids = {r.magid for r in tables.points_de_vente(spark, root).collect()}
    assert magids == {20, 21, 22, 23}


def _scan_roots(df):
    plan = df._jdf.queryExecution().executedPlan()
    roots = []
    for n in _iter_physical_nodes(plan):
        if n.getClass().getSimpleName() == "FileSourceScanExec":
            paths = n.relation().location().rootPaths()
            roots.extend(paths.apply(i).toString() for i in range(paths.size()))
    return roots


def test_views_scan_one_staged_file(spark):
    """At the test scale factor both views read the same staged
    root, and AQE sized it to a single data file."""
    (pdv_root,) = _scan_roots(tables.points_de_vente(spark, SF_SMALL))
    (produits_root,) = _scan_roots(tables.produits(spark, SF_SMALL))
    assert pdv_root == produits_root
    assert "parity_views/points_de_vente" in pdv_root
    local = pdv_root.removeprefix("file:")
    files = [f for f in os.listdir(local) if f.endswith(".parquet")]
    assert len(files) == 1, files
