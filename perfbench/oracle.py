"""Value check of a query result against its registry DuckDB oracle.

Comparison is order-insensitive: columns sorted by name, cells put in
a canonical form, rows sorted — the same discipline as the test
suite's oracle gate.
"""

from __future__ import annotations

import datetime
import decimal
import math

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def canonical(cols, rows) -> tuple[list, list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def matches(con, name: str, cols, rows) -> bool:
    """True when Spark's ``cols``/``rows`` equal the oracle's answer.
    ``rows`` are Spark Rows or record dicts in ``cols`` order."""
    from projet_etl_spark.plans.registry import oracle_sql

    res = con.execute(oracle_sql()[name])
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    s_rows = [tuple(r.values()) if isinstance(r, dict) else tuple(r) for r in rows]
    return canonical(list(cols), s_rows) == canonical(d_cols, d_rows)
