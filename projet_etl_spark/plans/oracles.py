"""DuckDB oracle SQL for the parity surface.

Each string is the ANSI-SQL ground truth for one registry query,
runnable by DuckDB over the driver's parquet views. They mirror the
Spark plans term-for-term:

- identical weighted-sum association order (bit-exact doubles),
- explicit CAST(... AS DOUBLE)/BIGINT so DuckDB's DECIMAL/HUGEINT
  defaults don't diverge from Spark's types,
- identical ORDER BY tiebreaks inside every LIMIT,
- ROUND(x, 6) wherever double summation order could differ.

Default parameters come from params.DEFAULTS, formatted once at
import; the Spark side bakes the same defaults.
"""

from __future__ import annotations

from projet_etl_spark.params import DEFAULTS
from projet_etl_spark.sources.tables import ORACLE_VIEWS

_P = {
    "cat": DEFAULTS["cat_id"],
    "fab": DEFAULTS["fab_id"],
    "debut": DEFAULTS["debut"],
    "fin": DEFAULTS["fin"],
    "annee": DEFAULTS["annee"],
    "epoch": DEFAULTS["epoch"],
    "as_of": DEFAULTS["as_of"],
    "k": DEFAULTS["topk"],
}

_SCORE4 = """(COUNT(DISTINCT fabid) * CAST(0.1 AS DOUBLE)
             + COUNT(DISTINCT catid) * CAST(0.2 AS DOUBLE)
             + COUNT(DISTINCT prodid) * CAST(0.3 AS DOUBLE)
             + COUNT(*) * CAST(0.4 AS DOUBLE))"""

_SCORE3 = """(COUNT(DISTINCT fabid) * CAST(0.1 AS DOUBLE)
             + COUNT(DISTINCT prodid) * CAST(0.3 AS DOUBLE)
             + COUNT(*) * CAST(0.6 AS DOUBLE))"""

_SCORE3_TOP1 = """(COUNT(DISTINCT prodid) * CAST(0.3 AS DOUBLE)
             + COUNT(*) * CAST(0.6 AS DOUBLE)
             + COUNT(DISTINCT fabid) * CAST(0.1 AS DOUBLE))"""

# top-10 within category, reused by the composites (reference
# QUERY_MAP "top-magasins-cat", views.py:45-60)
_TOP10_CAT = """
    SELECT magid, total_produits FROM (
        SELECT magid,
               COUNT(DISTINCT fabid) AS total_fabricants,
               COUNT(DISTINCT prodid) AS total_produits,
               COUNT(*) AS total_ventes,
               {score3} AS score
        FROM points_de_vente
        WHERE catid = '{cat}'
          AND dateid BETWEEN DATE '{{debut}}' AND DATE '{{fin}}'
        GROUP BY magid
        ORDER BY score DESC, magid
        LIMIT {k}
    )
""".format(score3=_SCORE3, cat=_P["cat"], k=_P["k"])

def _m3_spine(epoch: str, as_of: str) -> str:
    return """
    SELECT strftime(m, '%Y-%m') AS mois_annee
    FROM (SELECT unnest(generate_series(DATE '{epoch}', DATE '{as_of}',
                                        INTERVAL 1 MONTH)) AS m) s
""".format(epoch=epoch, as_of=as_of)


_M2_PER_STORE = (
    ORACLE_VIEWS
    + """,
top10 AS ({top10}),
fab_counts AS (
    SELECT magid, COUNT(DISTINCT prodid) AS nb_produits_fab
    FROM points_de_vente
    WHERE catid = '{cat}' AND fabid = {fab}
      AND magid IN (SELECT magid FROM top10)
    GROUP BY magid
),
per_store AS (
    SELECT t.magid,
           t.total_produits,
           COALESCE(f.nb_produits_fab, 0) AS nb_produits_fab,
           CASE WHEN t.total_produits <> 0
                THEN (COALESCE(f.nb_produits_fab, 0) / t.total_produits) * 100
                ELSE CAST(0.0 AS DOUBLE) END AS pct_raw
    FROM top10 t LEFT JOIN fab_counts f ON t.magid = f.magid
)"""
).format(top10=_TOP10_CAT.format(debut=_P["debut"], fin=_P["fin"]), **_P)

def _m3_base(epoch: str, as_of: str) -> str:
    """The M3 health-score CTE stack for an arbitrary [epoch, as_of]
    bound — the oracle twin of composite._M3's time
    parameterization (SURVEY.md §2.10.10). The default-bound string
    below feeds PARITY_ORACLES; tests drive historical bounds through
    this builder so the time-dependence contract can't rot."""
    return (
        ORACLE_VIEWS
        + """,
top10 AS ({top10}),
monthly AS (
    SELECT pv.magid,
           strftime(pv.dateid, '%Y-%m') AS mois_annee,
           COUNT(DISTINCT pv.prodid) AS nb_prod_mois,
           ANY_VALUE(t.total_produits) AS total_produits
    FROM points_de_vente pv JOIN top10 t ON pv.magid = t.magid
    WHERE pv.catid = '{cat}' AND pv.fabid = {fab}
    GROUP BY pv.magid, strftime(pv.dateid, '%Y-%m')
),
per_month AS (
    SELECT mois_annee, AVG((nb_prod_mois / total_produits) * 100) AS avg_raw
    FROM monthly
    WHERE total_produits <> 0
    GROUP BY mois_annee
),
months AS ({spine})"""
    ).format(
        top10=_TOP10_CAT.format(debut=epoch, fin=as_of),
        spine=_m3_spine(epoch, as_of),
        **_P,
    )


def score_sante_mois_sql(epoch: str, as_of: str) -> str:
    """score-sante-touts-les-mois oracle for an arbitrary bound."""
    return _m3_base(epoch, as_of) + _M3_SELECT


def score_sante_mois_avg_sql(epoch: str, as_of: str) -> str:
    """score-sante-touts-les-mois-avg oracle for an arbitrary bound."""
    return _m3_base(epoch, as_of) + _M3_AVG_SELECT


def score_evolution_sql(epoch: str, as_of: str) -> str:
    """score-evolution oracle for an arbitrary bound."""
    return ORACLE_VIEWS + _SCORE_EVOLUTION_SELECT.format(
        epoch=epoch, as_of=as_of, **{k: v for k, v in _P.items() if k not in ("epoch", "as_of")}
    )


_M3_SELECT = """
SELECT months.mois_annee,
       ROUND(COALESCE(per_month.avg_raw, CAST(0.0 AS DOUBLE)), 6) AS avg_percentage
FROM months LEFT JOIN per_month USING (mois_annee)
ORDER BY mois_annee
"""

_M3_AVG_SELECT = """
SELECT ROUND(COALESCE(AVG(per_month.avg_raw), CAST(0.0 AS DOUBLE)), 6) AS average
FROM months LEFT JOIN per_month USING (mois_annee)
"""

_SCORE_EVOLUTION_SELECT = """
SELECT strftime(dateid, '%Y-%m') AS mois,
       COUNT(*) AS total_ventes,
       CAST(SUM(CASE WHEN fabid = {fab} THEN 1 ELSE 0 END) AS BIGINT) AS ventes_fab,
       COALESCE(CAST(SUM(CASE WHEN fabid = {fab} THEN 1 ELSE 0 END) AS BIGINT)
                * CAST(100.0 AS DOUBLE) / NULLIF(COUNT(*), 0),
                CAST(0.0 AS DOUBLE)) AS score_sante
FROM points_de_vente
WHERE catid = '{cat}' AND dateid BETWEEN DATE '{epoch}' AND DATE '{as_of}'
GROUP BY strftime(dateid, '%Y-%m')
ORDER BY mois
"""

PARITY_ORACLES: dict[str, str] = {
    "cat": ORACLE_VIEWS
    + """
SELECT dateid, prodid, catid, fabid FROM produits WHERE catid = '{cat}'
""".format(**_P),
    "mag-cat": ORACLE_VIEWS
    + """
SELECT COUNT(DISTINCT magid) AS total_magasins
FROM points_de_vente WHERE catid = '{cat}'
""".format(**_P),
    "fab-cat": ORACLE_VIEWS
    + """
SELECT COUNT(DISTINCT fabid) AS total_fabricants
FROM produits WHERE catid = '{cat}'
""".format(**_P),
    "avg-prod-per-fab": ORACLE_VIEWS
    + """
SELECT AVG(product_count) AS avg_products_per_fab
FROM (
    SELECT fabid, COUNT(DISTINCT prodid) AS product_count
    FROM produits
    WHERE catid = '{cat}' AND dateid BETWEEN DATE '{debut}' AND DATE '{fin}'
    GROUP BY fabid
) sub
""".format(**_P),
    "top-magasins": ORACLE_VIEWS
    + """
SELECT magid,
       COUNT(DISTINCT fabid) AS total_fabricants,
       COUNT(DISTINCT catid) AS total_categories,
       COUNT(DISTINCT prodid) AS total_produits,
       COUNT(*) AS total_ventes,
       {score4} AS score
FROM points_de_vente
WHERE dateid BETWEEN DATE '{debut}' AND DATE '{fin}'
GROUP BY magid
ORDER BY score DESC, magid
LIMIT {k}
""".format(score4=_SCORE4, **_P),
    "top-magasins-cat": ORACLE_VIEWS
    + """
SELECT magid,
       COUNT(DISTINCT fabid) AS total_fabricants,
       COUNT(DISTINCT prodid) AS total_produits,
       COUNT(*) AS total_ventes,
       {score3} AS score
FROM points_de_vente
WHERE catid = '{cat}' AND dateid BETWEEN DATE '{debut}' AND DATE '{fin}'
GROUP BY magid
ORDER BY score DESC, magid
LIMIT {k}
""".format(score3=_SCORE3, **_P),
    "top-1": ORACLE_VIEWS
    + """,
top10 AS (
    SELECT magid FROM (
        SELECT magid, {score4} AS score
        FROM points_de_vente
        WHERE dateid BETWEEN DATE '{debut}' AND DATE '{fin}'
        GROUP BY magid
        ORDER BY score DESC, magid
        LIMIT {k}
    )
)
SELECT magid,
       COUNT(DISTINCT fabid) AS total_fabricants,
       COUNT(DISTINCT prodid) AS total_produits,
       COUNT(*) AS total_ventes,
       {score3_top1} AS score
FROM points_de_vente
WHERE catid = '{cat}' AND magid IN (SELECT magid FROM top10)
GROUP BY magid
ORDER BY score DESC, magid
LIMIT 1
""".format(score4=_SCORE4, score3_top1=_SCORE3_TOP1, **_P),
    "nb-mag-cat-date": ORACLE_VIEWS
    + """
SELECT strftime(dateid, '%Y-%m') AS mois,
       COUNT(DISTINCT magid) AS nbmag
FROM points_de_vente
WHERE catid = '{cat}' AND EXTRACT(year FROM dateid) = {annee}
GROUP BY strftime(dateid, '%Y-%m')
ORDER BY mois
""".format(**_P),
    "score-evolution": score_evolution_sql(
        str(_P["epoch"]), str(_P["as_of"])
    ),
    "avg-cat-fab-10-mag": _M2_PER_STORE
    + """
SELECT magid, total_produits, nb_produits_fab,
       ROUND(pct_raw, 6) AS percentage
FROM per_store
ORDER BY magid
""",
    "avg-cat-fab-10-mag-avg": _M2_PER_STORE
    + """
SELECT ROUND(COALESCE(
           AVG(CASE WHEN total_produits <> 0 THEN pct_raw END),
           CAST(0.0 AS DOUBLE)), 6) AS average
FROM per_store
""",
    "score-sante-touts-les-mois": score_sante_mois_sql(
        str(_P["epoch"]), str(_P["as_of"])
    ),
    "score-sante-touts-les-mois-avg": score_sante_mois_avg_sql(
        str(_P["epoch"]), str(_P["as_of"])
    ),
}
