"""Monthly time-series queries (SURVEY.md §7 phase C).

Covers reference QUERY_MAP ``nb-mag-cat-date`` (views.py:62-71) and
``score-evolution`` (views.py:73-88): month bucketing, year
predicate, conditional aggregation, and the null-safe ratio.

Each result has one row per month, so it is coalesced to one
partition before its ``orderBy`` (as ``functions/dates.month_spine``
is): the sort then runs in place, with no range exchange and no
sampling job.

The year predicate uses ``year(dateid)`` rather than the reference's
``strftime('%Y', …)`` string compare — same result, but a form
Catalyst can use for partition pruning on date-partitioned layouts
(SURVEY.md §2.2 P6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.dates import month_key
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente


def q_nb_mag_cat_date(
    spark: SparkSession, sf_dir: str, *, cat_id=None, annee: int | None = None
) -> DataFrame:
    """Distinct stores per month for a category+year (views.py:62-71)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    annee = annee or DEFAULTS["annee"]
    return (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .filter(F.year("dateid") == F.lit(int(annee)))
        .groupBy(month_key(F.col("dateid")).alias("mois"))
        .agg(F.countDistinct("magid").alias("nbmag"))
        .coalesce(1)
        .orderBy("mois")
    )


def q_score_evolution(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    fab_id=None,
    epoch: str | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Monthly manufacturer share-of-sales "health score"
    (views.py:73-88). ``epoch``/``as_of`` replace the hardcoded
    '2022-01-01'..DATE('now') bounds (SURVEY.md §2.10.10).
    """
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    epoch = epoch or DEFAULTS["epoch"]
    as_of = as_of or DEFAULTS["as_of"]
    ventes_fab = F.sum(
        F.when(F.col("fabid") == F.lit(fab_id), 1).otherwise(0)
    ).alias("ventes_fab")
    total = F.count(F.lit(1)).alias("total_ventes")
    return (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .filter(F.col("dateid").between(F.to_date(F.lit(epoch)), F.to_date(F.lit(as_of))))
        .groupBy(month_key(F.col("dateid")).alias("mois"))
        .agg(total, ventes_fab)
        .withColumn(
            "score_sante",
            F.coalesce(
                F.col("ventes_fab")
                * F.lit(100.0)
                / F.nullif(F.col("total_ventes"), F.lit(0)),
                F.lit(0.0),
            ),
        )
        .coalesce(1)
        .orderBy("mois")
    )


def q_orders_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: exact decimal monthly sums,
    then one lag window over the months-sized series — the KPI
    growth-rate shape. The growth divides two doubles derived from
    associative decimal sums (first month: NULL growth, kept).

    Scale shape: the fact table reduces to (month, revenue) BEFORE
    the window; the lag runs over ~tens of rows at any fact volume.
    """
    from pyspark.sql import Window

    from projet_etl_spark.sources.tables import load_table

    from projet_etl_spark.functions.fixedpoint import (
        UnitSum,
        fixed_point_agg,
        units,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month"),
        F.col("o_totalprice").alias("p"),
    )
    monthly = fixed_point_agg(
        orders,
        ["month"],
        [UnitSum("rev_dec", units("p"), 2, 10**8)],
        counts=[("n_orders", None)],
    )
    w = Window.orderBy("month")
    rev = F.col("rev_dec").cast("double")
    prev = F.lag(rev).over(w)
    return monthly.select(
        "month",
        rev.alias("revenue"),
        "n_orders",
        F.round((rev - prev) / prev, 6).alias("mom_growth"),
    ).orderBy("month")
