"""``python -m projet_etl_spark.query <type> [--param K=V ...]`` —
the engine's CLI analogue of the reference's query endpoint
(``GET /api/produits/?type=<t>&catID=…&debut=…&fin=…``, reference
etl_project/api_etl/views.py:90-154). ``<type>`` is any registry
name.

Same contract as the HTTP edge: reference parameter names
(``catID``/``fabID``/``debut``/``fin``/``annee``), records-orient
JSON on stdout (views.py:152-154), and the reference's two error
classes mapped to exit codes — unknown query type (HTTP 400,
views.py:113-114) exits 4, missing warehouse (HTTP 404,
views.py:92-96) exits 44. A malformed or unknown ``--param`` exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from projet_etl_spark.api import (
    StoreNotFoundError,
    UnknownParameterError,
    UnknownQueryTypeError,
    run_query,
    to_records,
)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m projet_etl_spark.query",
        description="Run a registry query and print records-orient JSON.",
    )
    p.add_argument("type", help="any registry query name, e.g. top-magasins")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="warehouse directory (star schema or native ingest layout)",
    )
    p.add_argument(
        "--param",
        action="append",
        default=[],
        metavar="K=V",
        help="reference query-string parameter, e.g. catID=Brand#4",
    )
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    params: dict[str, str] = {}
    for kv in args.param:
        k, sep, v = kv.partition("=")
        if not sep:
            print(f"bad --param {kv!r}: expected K=V", file=sys.stderr)
            return 2
        params[k] = v
    owns_spark = spark is None
    if owns_spark:
        from projet_etl_spark.session import get_spark

        spark = get_spark("projet-etl-query")
    try:
        df = run_query(spark, args.sf_dir, args.type, **params)
        print(json.dumps(to_records(df), default=str))
        return 0
    except UnknownQueryTypeError as e:  # reference HTTP 400
        print(str(e), file=sys.stderr)
        return 4
    except StoreNotFoundError as e:  # reference HTTP 404
        print(str(e), file=sys.stderr)
        return 44
    except UnknownParameterError as e:  # same exit as a malformed --param
        print(str(e), file=sys.stderr)
        return 2
    finally:
        if owns_spark:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
