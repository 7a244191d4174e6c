"""``python -m projet_etl_spark.ingest <csv_dir> <out_dir>`` — the
engine's analogue of the reference's ingest entry point
(``python data.py``, reference etl_project/data.py:1-46).

Reads the two whitespace-delimited CSVs the reference consumes
(``produits-tous.csv``, ``pointsDeVente-tous.csv`` — data.py:5-6),
lowercases headers (data.py:9-10), parses ``yyyyMMdd`` integer dates
(data.py:13-14) and replaces the warehouse tables (data.py:41-42
``if_exists='replace'``). The sink is a month-partitioned parquet
directory per table instead of SQLite: at 100 TB the warehouse must
be a distributed columnar layout with partition pruning, not a
single-file database. Every query in the registry runs unchanged
against the resulting directory (sources/tables.py autodetects the
native layout).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from projet_etl_spark.schemas import POINTS_DE_VENTE_SCHEMA, PRODUITS_SCHEMA
from projet_etl_spark.sources.ingest import read_whitespace_csv, write_table

# (table, reference CSV filename, schema) — reference data.py:5-6
TABLES = (
    ("produits", "produits-tous.csv", PRODUITS_SCHEMA),
    ("points_de_vente", "pointsDeVente-tous.csv", POINTS_DE_VENTE_SCHEMA),
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m projet_etl_spark.ingest",
        description=(
            "Ingest reference-shaped whitespace CSVs into a "
            "month-partitioned parquet warehouse."
        ),
    )
    p.add_argument("csv_dir", help="directory holding produits-tous.csv and "
                                   "pointsDeVente-tous.csv")
    p.add_argument("out_dir", help="warehouse directory to (re)create")
    p.add_argument(
        "--flat",
        action="store_true",
        help="write unpartitioned parquet (skip the yyyy-MM partitioning)",
    )
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    missing = [
        f for _, f, _ in TABLES
        if not os.path.isfile(os.path.join(args.csv_dir, f))
    ]
    if missing:
        print(f"missing input files in {args.csv_dir}: {missing}", file=sys.stderr)
        return 2
    owns_spark = spark is None
    if owns_spark:
        from projet_etl_spark.session import get_spark

        spark = get_spark("projet-etl-ingest")
    try:
        for table, fname, schema in TABLES:
            # the row count rides the write job, so reporting it reads
            # nothing back
            rows = Observation()
            df = read_whitespace_csv(
                spark, os.path.join(args.csv_dir, fname), schema
            ).observe(rows, F.count(F.lit(1)).alias("n"))
            dst = os.path.join(args.out_dir, table)
            write_table(
                df, dst, partition_by_month_of=None if args.flat else "dateid"
            )
            n = rows.get["n"]
            print(f"{table}: {n} rows -> {dst}")
    finally:
        if owns_spark:
            spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
