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
- ``top-1`` is one aggregate over the whole view: the global top-10's
  measures count only the in-range rows (``F.when(in_range, …)``) and
  stage 2's only the category's rows (``F.when(cat, …)``), so both
  stages come from one scan, one exchange on magid and one
  TakeOrderedAndProject(10); stage 2 is read from the same ten rows.
  ``top-magasins`` and ``top-magasins-cat`` keep their date filter in
  the scan, where it prunes the date-sorted staged files.
- A deterministic tiebreak (magid asc) is added to every top-k; the
  reference's tie order is nondeterministic (SURVEY.md §2.10.8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.functions.scores import score3, score3_top1, score4
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente

_TOTALS = {
    "fabid": "total_fabricants",
    "catid": "total_categories",
    "prodid": "total_produits",
}


def store_measures(
    *cols: str, within: Column | None = None, suffix: str = ""
) -> list[Column]:
    """A store's score inputs: the distinct count of each of ``cols``
    (``total_fabricants``/``total_categories``/``total_produits``) and
    the row count ``total_ventes``, each name ending in ``suffix``.

    With ``within``, every measure counts only the rows where it is
    true (a NULL is not), so one aggregate can carry the measures of
    two stages side by side.
    """

    def only(c: Column) -> Column:
        return c if within is None else F.when(within, c)

    return [
        distinct_count(only(F.col(c))).alias(_TOTALS[c] + suffix) for c in cols
    ] + [F.count(only(F.lit(1))).alias("total_ventes" + suffix)]


def in_dates(debut: str, fin: str) -> Column:
    """``dateid`` in [debut, fin]; NULL for a NULL ``dateid``."""
    return F.col("dateid").between(F.to_date(F.lit(debut)), F.to_date(F.lit(fin)))


def ranked(agg: DataFrame, score: Column, k: int) -> DataFrame:
    """The ``k`` best rows of ``agg`` by ``score``, ties by magid."""
    return (
        agg.withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("magid"))
        .limit(k)
    )


def _score4() -> Column:
    return score4(
        F.col("total_fabricants"),
        F.col("total_categories"),
        F.col("total_produits"),
        F.col("total_ventes"),
    )


def cat_score3() -> Column:
    """top-magasins-cat's score over the unsuffixed measures."""
    return score3(
        F.col("total_fabricants"), F.col("total_produits"), F.col("total_ventes")
    )


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
        .filter(in_dates(debut, fin))
        .groupBy("magid")
        .agg(*store_measures("fabid", "catid", "prodid"))
    )
    return ranked(agg, _score4(), k)


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
        .filter(in_dates(debut, fin))
        .groupBy("magid")
        .agg(*store_measures("fabid", "prodid"))
    )
    return ranked(agg, cat_score3(), k)


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
    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    agg = (
        points_de_vente(spark, sf_dir)
        .groupBy("magid")
        .agg(
            *store_measures("fabid", "catid", "prodid", within=in_dates(debut, fin)),
            *store_measures(
                "fabid", "prodid", within=F.col("catid") == F.lit(cat_id), suffix="_cat"
            ),
        )
        # stage 1 ranks only the stores that sold inside the window
        .filter(F.col("total_ventes") > 0)
    )
    top10 = ranked(agg, _score4(), DEFAULTS["topk"])
    # stage 2 keeps the top-10 stores that sold in the category
    stage2 = top10.filter(F.col("total_ventes_cat") > 0).select(
        "magid",
        *(
            F.col(c + "_cat").alias(c)
            for c in ("total_fabricants", "total_produits", "total_ventes")
        ),
    )
    return ranked(
        stage2,
        score3_top1(
            F.col("total_produits"), F.col("total_ventes"), F.col("total_fabricants")
        ),
        1,
    )
