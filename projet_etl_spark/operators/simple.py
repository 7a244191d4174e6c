"""Single-template queries (SURVEY.md §7 phase B).

Covers reference QUERY_MAP entries ``cat``, ``mag-cat``,
``fab-cat``, ``avg-prod-per-fab`` (reference views.py:10-25):
projection, equality/date-range predicates, grand aggregates,
COUNT(DISTINCT), and two-level aggregation.

All scans reach parquet with the predicate pushed down and only the
referenced columns in ReadSchema. The grand distinct counts
(mag-cat, fab-cat) keep Catalyst's distinct aggregation: one set
holds the whole category's stores or suppliers, so the values must
spread over a shuffle. avg-prod-per-fab's per-supplier count is
``distinct_count`` (one exchange on fabid), since one supplier's
product set stays bounded at any scale (functions/aggs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente, produits


def q_cat(spark: SparkSession, sf_dir: str, *, cat_id=None) -> DataFrame:
    """SELECT * FROM produits WHERE catid = {catID} (reference views.py:10)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    return produits(spark, sf_dir).filter(F.col("catid") == F.lit(cat_id))


def q_mag_cat(spark: SparkSession, sf_dir: str, *, cat_id=None) -> DataFrame:
    """COUNT(DISTINCT magid) for a category (reference views.py:12)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    return (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .agg(F.countDistinct("magid").alias("total_magasins"))
    )


def q_fab_cat(spark: SparkSession, sf_dir: str, *, cat_id=None) -> DataFrame:
    """COUNT(DISTINCT fabid) for a category (reference views.py:14)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    return (
        produits(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .agg(F.countDistinct("fabid").alias("total_fabricants"))
    )


def q_mag_cat_approx(spark: SparkSession, sf_dir: str, *, cat_id=None) -> DataFrame:
    """approx_count_distinct variant of mag-cat (SURVEY.md §2.4 A1):
    the 100 TB opt-in — HyperLogLog++ sketches merge map-side, so the
    distinct count costs one normal aggregation instead of an Expand
    shuffle of the raw values. No DuckDB oracle: HLL estimates are
    implementation-specific (driver records the rows-only check).
    """
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    return (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .agg(
            F.approx_count_distinct("magid", rsd=0.02).alias("total_magasins_approx")
        )
    )


def q_avg_prod_per_fab(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    debut: str | None = None,
    fin: str | None = None,
) -> DataFrame:
    """AVG over per-manufacturer distinct product counts
    (two-level aggregation, reference views.py:16-25)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    return (
        produits(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .filter(F.col("dateid").between(F.to_date(F.lit(debut)), F.to_date(F.lit(fin))))
        .groupBy("fabid")
        .agg(distinct_count("prodid").alias("product_count"))
        .agg(F.avg("product_count").alias("avg_products_per_fab"))
    )
