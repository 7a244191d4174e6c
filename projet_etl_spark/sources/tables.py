"""Parquet star-schema loaders and the reference-table views.

The reference operates on two flat fact tables loaded from CSV into
SQLite (reference data.py:21-42). The engine maps them onto the
driver's TPC-H-ish star schema (FIXTURES.md §2):

  produits        = lineitem ⋈ part          (catalog observations)
  points_de_vente = lineitem ⋈ orders ⋈ part (sales-point observations)

Both are row filters over ONE staged sales table (see _sales): every
produits column is a points_de_vente column, so the join is built,
sorted and written once per source fingerprint.

Scale notes (100 TB design point):
- Columns are pruned *before* the joins so the parquet scans read
  only what the table needs (verify with .explain: ReadSchema).
- ``part`` broadcasts via the auto-broadcast threshold at test
  SFs — not a forced hint, because part grows linearly with SF
  and stops being broadcastable at warehouse scale (AQE keeps
  choosing broadcast exactly as long as it actually fits);
  lineitem⟕orders is a fact-fact equi-join on the natural key — at
  cluster scale both sides should be bucketed by orderkey
  (co-located join, no shuffle); in local runs AQE converts it to a
  broadcast join automatically when orders is small enough.
- The staged table is range-partitioned by date with no fixed
  partition count, so AQE sizes its files to the data.
- No collect(), no driver-side state: every view is a lazy plan.
"""

from __future__ import annotations

import os as _os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# path -> (parquet_fingerprint, inferred schema). Schemas, never
# DataFrames: every read still gets a fresh relation. Process-wide,
# because an inferred schema depends on the file, not the session;
# two threads racing on one path only infer it twice.
_SCHEMAS: dict[str, tuple[str, StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each file's schema
    once per ``parquet_fingerprint``.

    Footer inference runs a Spark job on every plain read (150-210 ms
    per read of sf0.1 lineitem); with the schema supplied the read
    plans with zero jobs (about 30 ms). A rewritten file moves its
    fingerprint and is inferred afresh; a failed inference raises
    through and is not remembered; a path the fingerprint cannot
    stat (missing, or a URI scheme) reads exactly as a plain read,
    so a missing table still raises ``AnalysisException``. Reads whose
    inference depends on a scoped conf (``events``) do not use it.
    """
    from projet_etl_spark.sources.staging import parquet_fingerprint

    try:
        fp = parquet_fingerprint(*_os.path.split(_os.path.normpath(path)))
    except OSError:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fp, df.schema)
    return df


def schema_is_memoized(path: str) -> bool:
    """True when ``path`` was read under its current fingerprint, so
    it exists and its footers parse, as far as a Spark read can tell."""
    from projet_etl_spark.sources.staging import parquet_fingerprint

    hit = _SCHEMAS.get(path)
    try:
        fp = parquet_fingerprint(*_os.path.split(_os.path.normpath(path)))
    except OSError:
        return False
    return hit is not None and hit[0] == fp


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream table with a proper TimestampType ``ts``.

    Handles BOTH fixture vintages the driver has shipped:
    - TIMESTAMP(NANOS) (rounds 1-4), which Spark's vectorized reader
      rejects: read nanos as long (legacy conf, runtime-settable) and
      rebuild microsecond timestamps — ``div`` floors like DuckDB's
      ns->us truncation, so both engines see the identical instant;
    - plain timestamp[us] (round 5+), which resolves as
      TIMESTAMP_NTZ: cast to session-local TimestampType (the
      session is pinned UTC, so the wall clock — and thus every
      window/date bucket — is unchanged and still matches the
      timezone-naive oracle).

    The legacy conf is scoped to this read (set, resolve the scan,
    restore): the parquet relation captures the conversion when
    ``spark.read.parquet`` resolves the footer schema, and execution
    of the returned plan stays valid after the restore (verified by
    tests/test_formats.py::test_events_conf_scoped). Other
    nanos-timestamp parquet reads in the same session keep Spark's
    default loud failure instead of silently changing type.
    """
    from pyspark.sql.types import LongType

    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev: str | None = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "true")
    try:
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _native_path(sf_dir: str, name: str) -> str | None:
    """Path to a reference-native table if the warehouse has one.

    A directory produced by the engine's own ingest (data.py-shaped
    whitespace CSVs -> parquet) contains ``produits``/
    ``points_de_vente`` directly; the driver's testdata instead
    carries the TPC-H-ish star schema that the views below map. Both
    layouts serve every query unchanged.
    """
    import glob
    import os

    p = os.path.join(sf_dir, name)
    if os.path.isdir(p) and (
        glob.glob(os.path.join(p, "*.parquet"))
        or glob.glob(os.path.join(p, "*", "*.parquet"))
    ):
        return p
    if os.path.isfile(p + ".parquet") or os.path.isdir(p + ".parquet"):
        return p + ".parquet"
    return None




# One staged sales table serves both reference views. The reference
# ITSELF materializes them as tables (its ingest writes them into
# SQLite, data.py:21-42); recomputing the lineitem⋈orders⋈part join
# inside every parity query paid a fact-fact join per call (measured:
# top-magasins 1.74→1.07 s, top-1 2.65→1.48 s at sf0.1 once staged).
# Every produits column is a points_de_vente column, so one table
#
#   S(dateid, prodid, catid, fabid, magid, pos)
#     = lineitem ⋈ part ⟕ orders-grouped-by-key, position-exploded
#
# holds both: a line joins each order carrying its key (pos 0..k-1),
# and a line no order carries keeps one row with a NULL pos. So
#   points_de_vente = S where pos IS NOT NULL  (the inner 3-way join)
#   produits        = S where pos IS NULL OR pos = 0  (one row a line)
# and the one-column filter is pushed to the parquet scan. Build is
# refresh cost under the shared ensure_staged protocol (fingerprint of
# the three source files), the same accounting as the rollups and
# streaming stores. At 100 TB this IS the ingested warehouse table —
# the _native_path branch above — and the staging here just gives the
# driver's raw star-schema fixture the same physics.
_SALES_STAGE_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "spark-warehouse",
    "stores",
    "parity_views",
    "points_de_vente",
)
_SALES_SOURCES = ("lineitem.parquet", "orders.parquet", "part.parquet")
_PRODUITS_COLS = ("dateid", "prodid", "catid", "fabid")
_PDV_COLS = _PRODUITS_COLS + ("magid",)
_PDV_ROWS = "pos IS NOT NULL"
_PRODUITS_ROWS = "pos IS NULL OR pos = 0"


def _sales_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy S: lineitem ⋈ part, LEFT-joined to each order key's
    ``collect_list(struct(o_custkey))`` and ``posexplode_outer``-ed,
    so a duplicate order key yields one row per order (pos 0..k-1), a
    NULL ``o_custkey`` a NULL ``magid`` (the struct keeps it in the
    list), and a line without an order one row with a NULL pos."""
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderkey")
        .agg(F.collect_list(F.struct("o_custkey")).alias("stores"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey, "left")
        .select(
            F.to_date("l_shipdate").alias("dateid"),
            F.col("l_partkey").alias("prodid"),
            F.col("p_brand").alias("catid"),
            F.col("l_suppkey").alias("fabid"),
            F.posexplode_outer("stores").alias("pos", "store"),
        )
        .select(*_PRODUITS_COLS, F.col("store.o_custkey").alias("magid"), "pos")
    )


def _sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S served from its fingerprint-keyed parquet staging; the lazy
    plan when the sources aren't fingerprintable or the staged table
    is unreadable."""
    from pyspark.errors import AnalysisException

    from projet_etl_spark.sources.staging import (
        ensure_staged,
        parquet_fingerprint,
    )

    try:
        fp = "|".join(parquet_fingerprint(sf_dir, f) for f in _SALES_SOURCES)
    except OSError:
        return _sales_plan(spark, sf_dir)

    def _build(root: str) -> None:
        # date-range partitions with no fixed count: AQE coalesces
        # them to the advisory size (or bytes/cores, if smaller, but
        # never under its 1 MB minimum), so the table is one file at
        # api scale, four at sf0.1 on 4 cores and 64 MB files at
        # 100 TB, and each file's (and row group's) dateid min/max
        # prunes date predicates. Month directories belong to the
        # real ingested warehouse (write_table's partition_by_month_of):
        # here they wrote tasks×months ≈ 500 files at sf0.1 and every
        # query re-paid the listing.
        (
            _sales_plan(spark, sf_dir)
            .repartitionByRange("dateid")
            .sortWithinPartitions("dateid")
            .write.mode("overwrite")
            .parquet(_os.path.join(root, "table"))
        )

    path = ensure_staged(
        _SALES_STAGE_ROOT, sf_dir, fp, "table", _build, version="sales-v1"
    )
    try:
        return read_parquet(spark, path)
    except AnalysisException:
        return _sales_plan(spark, sf_dir)


def produits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-observation view: (dateid, prodid, catid, fabid).

    Maps the reference ``produits`` table (reference data.py:21-28):
    lineitem ⋈ part, one row per lineitem observation, duplicates
    meaningful. Served from the staged sales table (see _sales)
    exactly as the reference serves it from its own ingested table.
    """
    native = _native_path(sf_dir, "produits")
    if native:
        return read_parquet(spark, native).select(*_PRODUITS_COLS)
    return _sales(spark, sf_dir).filter(_PRODUITS_ROWS).select(*_PRODUITS_COLS)


def points_de_vente(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sales-point view: (dateid, prodid, catid, fabid, magid).

    Maps the reference ``points_de_vente`` table
    (reference data.py:30-38): lineitem ⋈ orders ⋈ part, with
    ``magid`` the order's ``o_custkey``; ``COUNT(*)`` over this view
    is "total_ventes" (reference views.py:32). Served from the staged
    sales table (see _sales) exactly as the reference serves it from
    its own ingested table.
    """
    native = _native_path(sf_dir, "points_de_vente")
    if native:
        return read_parquet(spark, native).select(*_PDV_COLS)
    return _sales(spark, sf_dir).filter(_PDV_ROWS).select(*_PDV_COLS)


# The request templates (operators/simple, topk, timeseries, composite)
# read both views BY NAME: ``FROM IDENTIFIER(:pdv)`` or
# ``IDENTIFIER(:produits)``. A name is a session temp view registered
# once per session, warehouse and source fingerprint, so a request
# costs one ``spark.sql`` call and a few file stats; building the
# views' DataFrames is a few hundred py4j round trips.
_VIEWS = {"pdv": "points_de_vente", "produits": "produits"}
# session -> {warehouse path: its view names registered last}. Keyed
# by the Python session object, so a new session registers its own
# views. Two threads may both register a name (createOrReplaceTempView
# makes that harmless) or, while the sources move, drop each other's
# pair, which the next request registers again.
_REGISTERED: weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, str]]] = (
    weakref.WeakKeyDictionary()
)


def _views_fingerprint(sf_dir: str) -> str | None:
    """What the two views of ``sf_dir`` read, as a string that moves
    when any of it moves: a native table's fingerprint, or the three
    sources' and the staged table's ``_SOURCE`` marker mtime (a
    rebuild for the same sources, e.g. after another warehouse with
    the same basename took the staged root, writes new data files).
    None when a source cannot be stat'ed."""
    from projet_etl_spark.sources.staging import parquet_fingerprint, staged_root

    natives = [_native_path(sf_dir, view) for view in _VIEWS.values()]
    try:
        parts = [sf_dir] + [
            parquet_fingerprint(*_os.path.split(p)) for p in natives if p
        ]
        if not all(natives):
            parts += [parquet_fingerprint(sf_dir, f) for f in _SALES_SOURCES]
            marker = _os.path.join(staged_root(_SALES_STAGE_ROOT, sf_dir), "_SOURCE")
            try:
                parts.append(str(_os.stat(marker).st_mtime_ns))
            except FileNotFoundError:
                parts.append("unstaged")
    except OSError:
        return None
    return "\n".join(parts)


def _view_names(sf_dir: str, key: str | None) -> dict[str, str]:
    import hashlib

    tag = hashlib.sha1((key or f"{sf_dir}\nunkeyed").encode()).hexdigest()[:12]
    return {p: f"spark_graft_{v}_{tag}" for p, v in _VIEWS.items()}


def _register_views(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    frames = {"pdv": points_de_vente(spark, sf_dir), "produits": produits(spark, sf_dir)}
    key = _views_fingerprint(sf_dir)
    names = _view_names(sf_dir, key)
    for param, df in frames.items():
        df.createOrReplaceTempView(names[param])
    if key is not None:
        last = _REGISTERED.setdefault(spark, {})
        stale = last.get(sf_dir, names)
        last[sf_dir] = names
        for name in set(stale.values()) - set(names.values()):
            spark.catalog.dropTempView(name)
    return names


def views_sql(spark: SparkSession, sf_dir: str, sql: str, **args) -> DataFrame:
    """``spark.sql(sql, args)`` with ``:pdv`` and ``:produits`` bound to
    the names of ``sf_dir``'s two views.

    Side effect: the caller's session gains two temp views per
    warehouse (a moved fingerprint drops the pair it replaces), named
    ``spark_graft_{points_de_vente,produits}_<12 hex>`` from a hash of
    the warehouse path and its fingerprint, much as
    ``ensure_engine_conf`` sets the engine's confs on it. A session
    that lacks the names (a new session, a dropped view) or a moved
    fingerprint (rewritten sources, a rebuilt staged table) registers
    them afresh; sources that cannot be fingerprinted register them
    on every call. The returned DataFrame holds its analyzed plan, so
    re-registering a name never changes a plan already built.
    """
    from pyspark.errors import AnalysisException

    key = _views_fingerprint(sf_dir)
    names = _view_names(sf_dir, key)
    if key is not None and _REGISTERED.get(spark, {}).get(sf_dir) == names:
        try:
            return spark.sql(sql, args={**names, **args})
        except AnalysisException as e:  # a dropped view
            if e.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
                raise
    return spark.sql(sql, args={**_register_views(spark, sf_dir), **args})


def _points_de_vente_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """points_de_vente without the staging: the build plan that the
    100 TB ingest runs."""
    return _sales_plan(spark, sf_dir).filter(_PDV_ROWS).select(*_PDV_COLS)


# DuckDB-oracle CTE definitions of the same two views, kept adjacent
# to the Spark definitions so they can never drift apart. Every
# oracle SQL string in the registry is prefixed with ORACLE_VIEWS.
ORACLE_VIEWS = """\
WITH produits AS (
    SELECT CAST(l.l_shipdate AS DATE) AS dateid,
           l.l_partkey AS prodid,
           p.p_brand  AS catid,
           l.l_suppkey AS fabid
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
points_de_vente AS (
    SELECT CAST(l.l_shipdate AS DATE) AS dateid,
           l.l_partkey AS prodid,
           p.p_brand  AS catid,
           l.l_suppkey AS fabid,
           o.o_custkey AS magid
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p   ON l.l_partkey = p.p_partkey
)"""
