"""Pre-aggregated monthly rollup — the materialized-view pattern.

At 100 TB the monthly queries (score-evolution, nb-mag-cat-date,
top-magasins) must not scan raw facts: a rollup at
(catid, fabid, prodid, magid, month) grain with additive measures
answers them exactly —

- counts/sums re-aggregate losslessly across any sub-grouping,
- distinct counts over dimensions RETAINED IN THE ROLLUP KEY stay
  exact: COUNT(DISTINCT x) over rollup rows equals it over raw rows.

The grain keeps every dimension and collapses only the date to
month — that alone shrinks the fact table by the average rows per
(combo, month), while answering every whole-month query in the
parity surface byte-identically.

(The general case — distinct over a rolled-away dimension — needs
HLL sketches; that path is the `mag-cat-approx` opt-in.)

The rollup queries registered here carry the SAME oracles as their
raw-scan twins: the driver's gate literally proves the rollup path
answers byte-identically. Like those twins, the month series coalesce
their month rows to one partition before the ``orderBy``, so the sort
needs no range exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.functions.aggs import distinct_count
from projet_etl_spark.functions.dates import month_key
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import points_de_vente

_ROLLUP_CACHE: dict[str, DataFrame] = {}


def invalidate_rollups() -> int:
    """Unpersist and forget every materialized rollup (the refresh
    hook; also called by cache.release_caches). Returns the number of
    entries dropped."""
    n = 0
    for rollup in _ROLLUP_CACHE.values():
        try:
            rollup.unpersist()
            n += 1
        except Exception:
            pass
    _ROLLUP_CACHE.clear()
    return n


def monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(catid, fabid, prodid, magid, mois) -> n_ventes, built once per
    warehouse per application (the stand-in for a nightly-refreshed
    rollup table; a deployment would write it partitioned by mois).

    Keyed by applicationId, not id(spark): Python id values are
    reused after GC, which could hand a rebuilt warehouse a stale
    DataFrame bound to a stopped context."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _ROLLUP_CACHE:
        rollup = (
            points_de_vente(spark, sf_dir)
            .groupBy(
                "catid",
                "fabid",
                "prodid",
                "magid",
                month_key(F.col("dateid")).alias("mois"),
            )
            .agg(F.count(F.lit(1)).alias("n_ventes"))
            .persist()
        )
        rollup.count()
        _ROLLUP_CACHE[key] = rollup
    return _ROLLUP_CACHE[key]


def _month_bounds(debut: str, fin: str) -> tuple[str, str]:
    """Validate a [debut, fin] range covers whole months and return
    the inclusive month keys; month-grain filtering is only exact on
    whole-month ranges."""
    import datetime

    lo = datetime.date.fromisoformat(str(debut))
    hi = datetime.date.fromisoformat(str(fin))
    if lo.day != 1 or (hi + datetime.timedelta(days=1)).day != 1:
        raise ValueError(
            f"rollup twin needs whole-month bounds, got {debut}..{fin}"
        )
    return str(lo)[:7], str(hi)[:7]


def q_top_magasins_rollup(
    spark: SparkSession,
    sf_dir: str,
    *,
    debut: str | None = None,
    fin: str | None = None,
    k: int | None = None,
) -> DataFrame:
    """top-magasins answered from the rollup (same oracle as the raw
    query). Every score input survives the rollup exactly: the three
    distinct counts are over key dimensions, and total_ventes is the
    sum of the additive per-month counts."""
    from projet_etl_spark.functions.scores import score4

    debut = debut or DEFAULTS["debut"]
    fin = fin or DEFAULTS["fin"]
    k = k or DEFAULTS["topk"]
    lo, hi = _month_bounds(debut, fin)
    agg = (
        monthly_rollup(spark, sf_dir)
        .filter(F.col("mois").between(lo, hi))
        .groupBy("magid")
        .agg(
            distinct_count("fabid").alias("total_fabricants"),
            distinct_count("catid").alias("total_categories"),
            distinct_count("prodid").alias("total_produits"),
            F.sum("n_ventes").alias("total_ventes"),
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


def q_score_evolution_rollup(
    spark: SparkSession, sf_dir: str, *, cat_id=None, fab_id=None
) -> DataFrame:
    """score-evolution answered from the rollup instead of raw facts
    (same oracle as the raw query — results are identical).

    The epoch..as_of range spans whole months of the default
    parameters, so the month-grain filter is exact.
    """
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    fab_id = fab_id if fab_id is not None else DEFAULTS["fab_id"]
    lo = str(DEFAULTS["epoch"])[:7]
    hi = str(DEFAULTS["as_of"])[:7]
    r = monthly_rollup(spark, sf_dir).filter(
        (F.col("catid") == F.lit(cat_id)) & F.col("mois").between(lo, hi)
    )
    return (
        r.groupBy("mois")
        .agg(
            F.sum("n_ventes").alias("total_ventes"),
            F.sum(
                F.when(F.col("fabid") == F.lit(fab_id), F.col("n_ventes")).otherwise(
                    0
                )
            ).alias("ventes_fab"),
        )
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


def q_nb_mag_cat_date_rollup(
    spark: SparkSession, sf_dir: str, *, cat_id=None, annee: int | None = None
) -> DataFrame:
    """nb-mag-cat-date from the rollup: magid is in the rollup key,
    so the distinct store count per month is exact."""
    cat_id = cat_id if cat_id is not None else DEFAULTS["cat_id"]
    annee = annee or DEFAULTS["annee"]
    r = monthly_rollup(spark, sf_dir).filter(
        (F.col("catid") == F.lit(cat_id))
        & (F.substring("mois", 1, 4) == str(int(annee)))
    )
    return (
        r.groupBy("mois")
        .agg(F.countDistinct("magid").alias("nbmag"))
        .coalesce(1)
        .orderBy("mois")
    )
