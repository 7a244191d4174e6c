"""Composite multi-stage pipelines (SURVEY.md §2.9 M2/M3).

The reference materializes each stage at the driver and finishes
with Python loops (views.py:206-254, 256-339). Here each pipeline is
ONE lazy DataFrame plan: the top-10 result flows to executors as a
broadcast build side; the dense month calendar is a generated
relation crossed with the 10 stores — the reference's
O(months x stores) pandas loop becomes a broadcast join.

Semantic subtleties preserved exactly (SURVEY.md §2.10.6):
- M2 stage 2 has NO date filter (views.py:213-219) — counts span all
  dates even though stage 1 is range-bounded.
- M2 includes top-10 stores missing from stage 2 with count 0
  (views.py:232) and averages only over stores with nonzero
  denominator (views.py:234-237).
- M3 averages each month over only the stores having data that month
  (views.py:317-322), emits 0.0 rows for empty months
  (views.py:329-333), and the overall average spans only non-empty
  months (views.py:324-327).

Float parity with the oracle: every derived percentage/average is
rounded to 6 decimals in both engines so double summation order
cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.functions.dates import month_key, month_spine
from projet_etl_spark.operators.topk import q_top_magasins_cat
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente


def _m2_per_store(
    spark: SparkSession, sf_dir: str, cat_id, fab_id, debut: str, fin: str
) -> DataFrame:
    top10 = q_top_magasins_cat(
        spark, sf_dir, cat_id=cat_id, debut=debut, fin=fin
    ).select("magid", "total_produits")
    # stage 2: per-store distinct products for cat+fab across ALL dates
    # (reference views.py:213-219 applies no date filter)
    fab_counts = (
        points_de_vente(spark, sf_dir)
        .filter((F.col("catid") == F.lit(cat_id)) & (F.col("fabid") == F.lit(fab_id)))
        .join(F.broadcast(top10.select("magid")), "magid", "left_semi")
        .groupBy("magid")
        .agg(distinct_count("prodid").alias("nb_produits_fab"))
    )
    return (
        top10.join(fab_counts, "magid", "left")
        .withColumn(
            "nb_produits_fab", F.coalesce(F.col("nb_produits_fab"), F.lit(0).cast("long"))
        )
        .withColumn(
            "pct_raw",
            F.when(
                F.col("total_produits") != 0,
                F.col("nb_produits_fab") / F.col("total_produits") * F.lit(100),
            ).otherwise(F.lit(0.0)),
        )
    )


def q_avg_cat_fab_10_mag(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    fab_id=None,
    debut: str | None = None,
    fin: str | None = None,
) -> DataFrame:
    """Per-store manufacturer assortment share in the top-10 stores
    (reference views.py:206-254 ``top_mag`` payload)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    per_store = _m2_per_store(spark, sf_dir, cat_id, fab_id, debut, fin)
    return per_store.select(
        "magid",
        "total_produits",
        "nb_produits_fab",
        F.round(F.col("pct_raw"), 6).alias("percentage"),
    ).orderBy("magid")


def q_avg_cat_fab_10_mag_avg(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    fab_id=None,
    debut: str | None = None,
    fin: str | None = None,
) -> DataFrame:
    """The reference's "average" scalar: mean percentage over stores
    with a nonzero denominator (views.py:234-249)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    per_store = _m2_per_store(spark, sf_dir, cat_id, fab_id, debut, fin)
    return per_store.agg(
        F.round(
            F.coalesce(
                F.avg(F.when(F.col("total_produits") != 0, F.col("pct_raw"))),
                F.lit(0.0),
            ),
            6,
        ).alias("average")
    )


def _m3_month_avgs(
    spark: SparkSession, sf_dir: str, cat_id, fab_id, epoch: str, as_of: str
) -> DataFrame:
    top10 = q_top_magasins_cat(
        spark, sf_dir, cat_id=cat_id, debut=epoch, fin=as_of
    ).select("magid", "total_produits")
    # stage 2: per-(store, month) distinct products for cat+fab; like
    # M2 the reference applies no date filter here (views.py:290-296)
    monthly = (
        points_de_vente(spark, sf_dir)
        .filter((F.col("catid") == F.lit(cat_id)) & (F.col("fabid") == F.lit(fab_id)))
        .join(F.broadcast(top10), "magid")
        .groupBy("magid", month_key(F.col("dateid")).alias("mois_annee"))
        .agg(
            distinct_count("prodid").alias("nb_prod_mois"),
            F.first("total_produits").alias("total_produits"),
        )
        .filter(F.col("total_produits") != 0)
        .withColumn(
            "pct_raw", F.col("nb_prod_mois") / F.col("total_produits") * F.lit(100)
        )
    )
    # month average over only the stores with data that month
    # (reference views.py:317-327)
    per_month = monthly.groupBy("mois_annee").agg(F.avg("pct_raw").alias("avg_raw"))
    spine = month_spine(spark, epoch, as_of)
    return spine.join(F.broadcast(per_month), "mois_annee", "left")


def q_score_sante_mois(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    fab_id=None,
    epoch: str | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Monthly health score over the dense month calendar
    (reference views.py:256-339 ``top_mag`` payload; empty months
    emit 0.0, views.py:329-333)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    epoch = epoch or DEFAULTS["epoch"]
    as_of = as_of or DEFAULTS["as_of"]
    joined = _m3_month_avgs(spark, sf_dir, cat_id, fab_id, epoch, as_of)
    return joined.select(
        "mois_annee",
        F.round(F.coalesce(F.col("avg_raw"), F.lit(0.0)), 6).alias("avg_percentage"),
    ).orderBy("mois_annee")


def q_score_sante_mois_avg(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    fab_id=None,
    epoch: str | None = None,
    as_of: str | None = None,
) -> DataFrame:
    """Overall average over months having data (views.py:324-335)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    epoch = epoch or DEFAULTS["epoch"]
    as_of = as_of or DEFAULTS["as_of"]
    joined = _m3_month_avgs(spark, sf_dir, cat_id, fab_id, epoch, as_of)
    return joined.agg(
        F.round(F.coalesce(F.avg("avg_raw"), F.lit(0.0)), 6).alias("average")
    )
