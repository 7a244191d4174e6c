"""Top-k store scoring (SURVEY.md §7 phase A + §2.9 M1).

Covers reference QUERY_MAP ``top-magasins`` (views.py:27-43, the
flagship query), ``top-magasins-cat`` (views.py:45-60), and the
fixed ``top-1`` composite (views.py:157-190).

Spark-first notes:
- ORDER BY score LIMIT k plans as TakeOrderedAndProject — a true
  distributed top-k (per-partition heap + driver merge), no global
  sort even at 100 TB.
- The per-store distinct counts are ``distinct_count``
  (size(collect_set)): each store's rows cross one exchange on magid
  with map-side deduplicated sets. Three COUNT(DISTINCT) would plan
  Catalyst's Expand (every row copied per distinct column) and two
  shuffles. A store's set is its assortment, bounded at any scale.
- ``top-1`` stage 2 consumes stage 1 as a broadcast left-semi join
  (the reference's ``magid IN (…)`` string splice, views.py:179) —
  the 10-row build side never touches the driver.
- A deterministic tiebreak (magid asc) is added to every top-k; the
  reference's tie order is nondeterministic (SURVEY.md §2.10.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.functions.scores import score3, score3_top1, score4
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente


def q_top_magasins(
    spark: SparkSession,
    sf_dir: str,
    *,
    debut: str | None = None,
    fin: str | None = None,
    k: int | None = None,
) -> DataFrame:
    """Global top-k stores by 4-term weighted score (views.py:27-43)."""
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    k = k or DEFAULTS["topk"]
    agg = (
        points_de_vente(spark, sf_dir)
        .filter(F.col("dateid").between(F.to_date(F.lit(debut)), F.to_date(F.lit(fin))))
        .groupBy("magid")
        .agg(
            distinct_count("fabid").alias("total_fabricants"),
            distinct_count("catid").alias("total_categories"),
            distinct_count("prodid").alias("total_produits"),
            F.count(F.lit(1)).alias("total_ventes"),
        )
        .withColumn(
            "score",
            score4(
                F.col("total_fabricants"),
                F.col("total_categories"),
                F.col("total_produits"),
                F.col("total_ventes"),
            ),
        )
    )
    return agg.orderBy(F.desc("score"), F.asc("magid")).limit(k)


def q_top_magasins_cat(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    debut: str | None = None,
    fin: str | None = None,
    k: int | None = None,
) -> DataFrame:
    """Top-k stores within a category, 3-term score (views.py:45-60)."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    k = k or DEFAULTS["topk"]
    agg = (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .filter(F.col("dateid").between(F.to_date(F.lit(debut)), F.to_date(F.lit(fin))))
        .groupBy("magid")
        .agg(
            distinct_count("fabid").alias("total_fabricants"),
            distinct_count("prodid").alias("total_produits"),
            F.count(F.lit(1)).alias("total_ventes"),
        )
        .withColumn(
            "score",
            score3(
                F.col("total_fabricants"),
                F.col("total_produits"),
                F.col("total_ventes"),
            ),
        )
    )
    return agg.orderBy(F.desc("score"), F.asc("magid")).limit(k)


def q_top_1(
    spark: SparkSession,
    sf_dir: str,
    *,
    cat_id=None,
    debut: str | None = None,
    fin: str | None = None,
) -> DataFrame:
    """Best store for a category among the global top-10
    (intended semantics of the broken reference handler,
    views.py:157-190; divergence documented in SURVEY.md §2.10.1:
    the reference's stage-1 format() call KeyErrors at runtime, so
    debut/fin are taken as required parameters here).
    """
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    top10 = q_top_magasins(spark, sf_dir, debut=debut, fin=fin).select("magid")
    pv = points_de_vente(spark, sf_dir).filter(F.col("catid") == F.lit(cat_id))
    agg = (
        pv.join(F.broadcast(top10), "magid", "left_semi")
        .groupBy("magid")
        .agg(
            distinct_count("fabid").alias("total_fabricants"),
            distinct_count("prodid").alias("total_produits"),
            F.count(F.lit(1)).alias("total_ventes"),
        )
        .withColumn(
            "score",
            score3_top1(
                F.col("total_produits"),
                F.col("total_ventes"),
                F.col("total_fabricants"),
            ),
        )
    )
    return agg.orderBy(F.desc("score"), F.asc("magid")).limit(1)
