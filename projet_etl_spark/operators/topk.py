"""Top-k store scoring (SURVEY.md §7 phase A + §2.9 M1).

Covers reference QUERY_MAP ``top-magasins`` (views.py:27-43, the
flagship query), ``top-magasins-cat`` (views.py:45-60), and the
fixed ``top-1`` composite (views.py:157-190).

Each request is one parameterized SQL statement over the named
``points_de_vente`` view (``sources/tables.views_sql``), the
reference's own template shape; the score is its
``functions/scores`` profile rendered as SQL.

Spark-first notes:
- ORDER BY score LIMIT k plans as TakeOrderedAndProject — a true
  distributed top-k (per-partition heap + driver merge), no global
  sort even at 100 TB.
- The per-store distinct counts are
  ``CAST(size(collect_set(x)) AS BIGINT)``: each store's rows cross
  one exchange on magid with map-side deduplicated sets. Three
  COUNT(DISTINCT) would plan Catalyst's Expand (every row copied per
  distinct column) and two shuffles. A store's set is its
  assortment, bounded at any scale (functions/aggs.py).
- ``top-1`` is one aggregate over the whole view: the global top-10's
  measures count only the in-range rows (``CASE WHEN <in range>``)
  and stage 2's only the category's rows (``CASE WHEN catid = …``),
  so both stages come from one scan, one exchange on magid and one
  TakeOrderedAndProject(10); stage 2 is read from the same ten rows.
  ``top-magasins`` and ``top-magasins-cat`` keep their date filter in
  the scan, where it prunes the date-sorted staged files.
- A deterministic tiebreak (magid asc) is added to every top-k; the
  reference's tie order is nondeterministic (SURVEY.md §2.10.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from projet_etl_spark.functions.dates import IN_RANGE
from projet_etl_spark.functions.scores import SCORE3, SCORE3_TOP1, SCORE4, score_sql
from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import views_sql

_IN_DEBUT_FIN = IN_RANGE.format(lo=":debut", hi=":fin")

_TOP_MAGASINS = f"""
SELECT magid,
       CAST(size(collect_set(fabid)) AS BIGINT) AS total_fabricants,
       CAST(size(collect_set(catid)) AS BIGINT) AS total_categories,
       CAST(size(collect_set(prodid)) AS BIGINT) AS total_produits,
       count(*) AS total_ventes,
       {score_sql(SCORE4)} AS score
FROM IDENTIFIER(:pdv)
WHERE {_IN_DEBUT_FIN}
GROUP BY magid
ORDER BY score DESC, magid
LIMIT :k
"""

_TOP_MAGASINS_CAT = f"""
SELECT magid,
       CAST(size(collect_set(fabid)) AS BIGINT) AS total_fabricants,
       CAST(size(collect_set(prodid)) AS BIGINT) AS total_produits,
       count(*) AS total_ventes,
       {score_sql(SCORE3)} AS score
FROM IDENTIFIER(:pdv)
WHERE catid = :cat AND {_IN_DEBUT_FIN}
GROUP BY magid
ORDER BY score DESC, magid
LIMIT :k
"""

# stage 1 ranks only the stores that sold inside the window; stage 2
# keeps the top-10 stores that sold in the category
_TOP_1 = f"""
WITH top10 AS (
    SELECT *, {score_sql(SCORE4)} AS score
    FROM (
        SELECT magid,
               CAST(size(collect_set(CASE WHEN {_IN_DEBUT_FIN} THEN fabid END)) AS BIGINT)
                   AS total_fabricants,
               CAST(size(collect_set(CASE WHEN {_IN_DEBUT_FIN} THEN catid END)) AS BIGINT)
                   AS total_categories,
               CAST(size(collect_set(CASE WHEN {_IN_DEBUT_FIN} THEN prodid END)) AS BIGINT)
                   AS total_produits,
               count(CASE WHEN {_IN_DEBUT_FIN} THEN 1 END) AS total_ventes,
               CAST(size(collect_set(CASE WHEN catid = :cat THEN fabid END)) AS BIGINT)
                   AS total_fabricants_cat,
               CAST(size(collect_set(CASE WHEN catid = :cat THEN prodid END)) AS BIGINT)
                   AS total_produits_cat,
               count(CASE WHEN catid = :cat THEN 1 END) AS total_ventes_cat
        FROM IDENTIFIER(:pdv)
        GROUP BY magid
    )
    WHERE total_ventes > 0
    ORDER BY score DESC, magid
    LIMIT {DEFAULTS["topk"]}
)
SELECT *, {score_sql(SCORE3_TOP1)} AS score
FROM (
    SELECT magid,
           total_fabricants_cat AS total_fabricants,
           total_produits_cat AS total_produits,
           total_ventes_cat AS total_ventes
    FROM top10
    WHERE total_ventes_cat > 0
)
ORDER BY score DESC, magid
LIMIT 1
"""


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
    return views_sql(spark, sf_dir, _TOP_MAGASINS, debut=debut, fin=fin, k=k)


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
    return views_sql(
        spark, sf_dir, _TOP_MAGASINS_CAT, cat=cat_id, debut=debut, fin=fin, k=k
    )


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
    return views_sql(spark, sf_dir, _TOP_1, cat=cat_id, debut=debut, fin=fin)
