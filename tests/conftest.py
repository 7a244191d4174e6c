from __future__ import annotations

import contextlib
import errno
import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from projet_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def unobservable_kill(pid, sig):
    """An ``os.kill`` stand-in that asserts nothing about the pid (the
    PID-namespace case a pid probe cannot see through)."""
    raise OSError(errno.EINVAL, "pid liveness unobservable")


@contextlib.contextmanager
def writer_lock_holder(path: str):
    """A live writer in another process: a child that holds
    ``path``'s ``_writer_lock`` from entry until this context exits
    (it closes the child's stdin; the child then releases the lock
    as any writer does). Yields the child's ``Popen``."""
    script = (
        f"import sys; sys.path.insert(0, {REPO_ROOT!r})\n"
        "from projet_etl_spark.sources import ingest\n"
        f"with ingest._writer_lock({path!r}):\n"
        "    print('held', flush=True)\n"
        "    sys.stdin.read()\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", script],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert proc.stdout.readline() == "held\n"
        yield proc
    finally:
        proc.stdin.close()
        proc.wait(timeout=60)
        proc.stdout.close()


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="projet-etl-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize_cell(v):
    """Canonical form for order-insensitive row comparison."""
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style value hashing is representation-sensitive;
        # queries round their doubles, so repr is stable
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(round(float(v), 9))
    except ImportError:
        pass
    return v


def rows_canonical(cols, rows):
    """Sort columns by name, rows by value → multiset-comparable list."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def assert_matches_oracle(spark_df, duck_con, sql: str, name: str = "?"):
    """Mirror the driver's t2 gate: row count + column names +
    order-insensitive value comparison."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = duck_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols), (
        f"[{name}] column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"[{name}] row count: spark={len(s_rows)} duck={len(d_rows)}"
    )
    _, s_canon = rows_canonical(s_cols, s_rows)
    _, d_canon = rows_canonical(d_cols, d_rows)
    for i, (a, b) in enumerate(zip(s_canon, d_canon)):
        assert a == b, f"[{name}] first row divergence at sorted-index {i}:\n  spark={a}\n  duck ={b}"
