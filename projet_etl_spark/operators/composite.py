"""Composite multi-stage pipelines (SURVEY.md §2.9 M2/M3).

The reference materializes each stage at the driver and finishes
with Python loops (views.py:206-254, 256-339). Here each pipeline is
one parameterized SQL statement over the named ``points_de_vente``
view (``sources/tables.views_sql``) around ONE aggregate: a single
``GROUP BY magid`` over the category's rows computes stage 1's
measures under ``CASE WHEN <in range>`` and stage 2's under
``CASE WHEN fabid = …``, so the plan has one scan, one exchange on
magid and one TakeOrderedAndProject(10), and stage 2 is read from
the same ten rows. The dense month calendar is the month spine
(``functions/dates.MONTH_SPINE_SQL``) left-joined to the ten stores'
month averages under a ``MERGE`` hint — the reference's
O(months x stores) pandas loop becomes a join of two
single-partition relations bounded by months.

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

from pyspark.sql import DataFrame, SparkSession

from projet_etl_spark.functions.dates import IN_RANGE, MONTH_SPINE_SQL
from projet_etl_spark.functions.scores import SCORE3, score_sql
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import views_sql


def _top10(lo: str, hi: str, stage2: str) -> str:
    """top-magasins-cat's ten rows over [lo, hi], each carrying the
    ``stage2`` aggregates over all of the store's category rows,
    whatever their date."""
    in_range = IN_RANGE.format(lo=lo, hi=hi)
    return f"""
    SELECT *, {score_sql(SCORE3)} AS score
    FROM (
        SELECT magid,
               CAST(size(collect_set(CASE WHEN {in_range} THEN fabid END)) AS BIGINT)
                   AS total_fabricants,
               CAST(size(collect_set(CASE WHEN {in_range} THEN prodid END)) AS BIGINT)
                   AS total_produits,
               count(CASE WHEN {in_range} THEN 1 END) AS total_ventes,
               {stage2}
        FROM IDENTIFIER(:pdv)
        WHERE catid = :cat
        GROUP BY magid
    )
    WHERE total_ventes > 0
    ORDER BY score DESC, magid
    LIMIT {DEFAULTS["topk"]}"""


# stage 2: per-store distinct products for cat+fab across ALL dates
# (reference views.py:213-219 applies no date filter)
_M2_STAGE2 = (
    "CAST(size(collect_set(CASE WHEN fabid = :fab THEN prodid END)) AS BIGINT)"
    " AS nb_produits_fab"
)
_M2 = f"""
WITH top10 AS ({_top10(":debut", ":fin", _M2_STAGE2)}
),
per_store AS (
    SELECT *,
           CASE WHEN total_produits != 0
                THEN nb_produits_fab / total_produits * 100
                ELSE 0.0D END AS pct_raw
    FROM top10
)
"""

_AVG_CAT_FAB_10_MAG = _M2 + """
SELECT magid, total_produits, nb_produits_fab, round(pct_raw, 6) AS percentage
FROM per_store
ORDER BY magid
"""

_AVG_CAT_FAB_10_MAG_AVG = _M2 + """
SELECT round(coalesce(avg(CASE WHEN total_produits != 0 THEN pct_raw END), 0.0D), 6)
           AS average
FROM per_store
"""

# stage 2: per-(store, month) distinct products for cat+fab; like M2
# the reference applies no date filter here (views.py:290-296). The
# set is deduplicated, so counting its non-NULL products per month is
# the distinct count; a month whose products are all NULL stays in at
# 0. Each month averages over only the stores with data that month
# (reference views.py:317-327). Both sides of the spine join are one
# partition, so a sort-merge join needs no exchange; a broadcast would
# run the ten stores' stage as a job of its own.
_M3_STAGE2 = (
    "collect_set(CASE WHEN fabid = :fab"
    " THEN struct(date_format(dateid, 'yyyy-MM') AS mois_annee, prodid) END)"
    " AS fab_sales"
)
_M3 = f"""
WITH top10 AS ({_top10(":epoch", ":as_of", _M3_STAGE2)}
),
monthly AS (
    SELECT *, nb_prod_mois / total_produits * 100 AS pct_raw
    FROM (
        SELECT magid, total_produits, mois_annee, count(prodid) AS nb_prod_mois
        FROM (
            SELECT magid, total_produits, inline(fab_sales)
            FROM top10
            WHERE total_produits != 0
        )
        GROUP BY magid, total_produits, mois_annee
    )
),
per_month AS (
    SELECT mois_annee, avg(pct_raw) AS avg_raw
    FROM monthly
    GROUP BY mois_annee
),
months AS ({MONTH_SPINE_SQL})
"""

_SCORE_SANTE_MOIS = _M3 + """
SELECT /*+ MERGE(per_month) */
       mois_annee, round(coalesce(avg_raw, 0.0D), 6) AS avg_percentage
FROM months LEFT JOIN per_month USING (mois_annee)
ORDER BY mois_annee
"""

_SCORE_SANTE_MOIS_AVG = _M3 + """
SELECT /*+ MERGE(per_month) */ round(coalesce(avg(avg_raw), 0.0D), 6) AS average
FROM months LEFT JOIN per_month USING (mois_annee)
"""


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
    return views_sql(
        spark, sf_dir, _AVG_CAT_FAB_10_MAG, cat=cat_id, fab=fab_id, debut=debut, fin=fin
    )


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
    return views_sql(
        spark, sf_dir, _AVG_CAT_FAB_10_MAG_AVG, cat=cat_id, fab=fab_id, debut=debut, fin=fin
    )


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
    return views_sql(
        spark, sf_dir, _SCORE_SANTE_MOIS, cat=cat_id, fab=fab_id, epoch=epoch, as_of=as_of
    )


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
    return views_sql(
        spark, sf_dir, _SCORE_SANTE_MOIS_AVG, cat=cat_id, fab=fab_id, epoch=epoch, as_of=as_of
    )
