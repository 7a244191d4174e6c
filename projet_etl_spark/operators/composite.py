"""Composite multi-stage pipelines (SURVEY.md §2.9 M2/M3).

The reference materializes each stage at the driver and finishes
with Python loops (views.py:206-254, 256-339). Here each pipeline is
ONE aggregate: a single ``groupBy("magid")`` over the category's rows
computes stage 1's measures under ``F.when(in_range, …)`` and stage
2's under ``F.when(fab, …)``, so the plan has one scan, one exchange
on magid and one TakeOrderedAndProject(10), and stage 2 is read from
the same ten rows. The dense month calendar is a generated relation
left-joined to the ten stores' month averages — the reference's
O(months x stores) pandas loop becomes a join of two single-partition
frames bounded by months.

Semantic subtleties preserved exactly (SURVEY.md §2.10.6):
- Stage 1 ranks only stores with a row inside the window (a NULL
  dateid is never inside it).
- M2 stage 2 has NO date filter (views.py:213-219) — counts span all
  dates even though stage 1 is range-bounded.
- M2 includes top-10 stores with no manufacturer rows with count 0
  (views.py:232) and averages only over stores with nonzero
  denominator (views.py:234-237).
- M3 averages each month over only the stores having data that month
  (views.py:317-322), emits 0.0 rows for empty months
  (views.py:329-333), and the overall average spans only non-empty
  months (views.py:324-327).

Bound rule (functions/aggs.distinct_count): every set is one store's
assortment. M3's set holds the (month, product) pairs of one
manufacturer within one category, so no set grows with the number of
stores.

Float parity with the oracle: every derived percentage/average is
rounded to 6 decimals in both engines so double summation order
cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.functions.dates import month_key, month_spine
from projet_etl_spark.operators.topk import cat_score3, in_dates, ranked, store_measures
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente


def _top10_cat_with(
    spark: SparkSession, sf_dir: str, cat_id, debut: str, fin: str, *stage2: Column
) -> DataFrame:
    """top-magasins-cat's ten rows over [debut, fin], each carrying
    the ``stage2`` aggregates over all of the store's category rows,
    whatever their date."""
    agg = (
        points_de_vente(spark, sf_dir)
        .filter(F.col("catid") == F.lit(cat_id))
        .groupBy("magid")
        .agg(*store_measures("fabid", "prodid", within=in_dates(debut, fin)), *stage2)
        .filter(F.col("total_ventes") > 0)
    )
    return ranked(agg, cat_score3(), DEFAULTS["topk"])


def _m2_per_store(
    spark: SparkSession, sf_dir: str, cat_id, fab_id, debut: str, fin: str
) -> DataFrame:
    # stage 2: per-store distinct products for cat+fab across ALL dates
    # (reference views.py:213-219 applies no date filter)
    fab = F.col("fabid") == F.lit(fab_id)
    top10 = _top10_cat_with(
        spark,
        sf_dir,
        cat_id,
        debut,
        fin,
        distinct_count(F.when(fab, F.col("prodid"))).alias("nb_produits_fab"),
    )
    return top10.withColumn(
        "pct_raw",
        F.when(
            F.col("total_produits") != 0,
            F.col("nb_produits_fab") / F.col("total_produits") * F.lit(100),
        ).otherwise(F.lit(0.0)),
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
    # stage 2: per-(store, month) distinct products for cat+fab; like
    # M2 the reference applies no date filter here (views.py:290-296)
    fab = F.col("fabid") == F.lit(fab_id)
    sales = F.struct(month_key(F.col("dateid")).alias("mois_annee"), "prodid")
    top10 = _top10_cat_with(
        spark,
        sf_dir,
        cat_id,
        epoch,
        as_of,
        F.collect_set(F.when(fab, sales)).alias("fab_sales"),
    )
    # the set is deduplicated, so counting its non-NULL products per
    # month is the distinct count; a month whose products are all
    # NULL stays in at 0
    monthly = (
        top10.filter(F.col("total_produits") != 0)
        .select("magid", "total_produits", F.inline("fab_sales"))
        .groupBy("magid", "total_produits", "mois_annee")
        .agg(F.count("prodid").alias("nb_prod_mois"))
        .withColumn(
            "pct_raw", F.col("nb_prod_mois") / F.col("total_produits") * F.lit(100)
        )
    )
    # month average over only the stores with data that month
    # (reference views.py:317-327)
    per_month = monthly.groupBy("mois_annee").agg(F.avg("pct_raw").alias("avg_raw"))
    spine = month_spine(spark, epoch, as_of)
    # both sides are one partition, so a sort-merge join needs no
    # exchange; a broadcast would run the ten stores' stage as a job
    # of its own
    return spine.join(per_month.hint("merge"), "mois_annee", "left")


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
