"""Request-style dispatch API: the engine's analogue of the
reference's HTTP endpoint (reference views.py:90-154).

The reference reads query-string params (type, catID, fabID, debut,
fin, annee; views.py:102-110), validates the type (views.py:113-114,
400 on unknown), checks the store exists (views.py:92-96, 404), and
dispatches through QUERY_MAP. This module keeps that exact contract
— same parameter names, same error classes of behavior — but returns
a lazy DataFrame instead of JSON (callers serialize at the edge, as
S7 notes in SURVEY.md §2.1). QUERY_MAP's analogue is the registry
itself: every registry name is a valid ``type``.
"""

from __future__ import annotations

import inspect
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from projet_etl_spark.plans.registry import REGISTRY
from projet_etl_spark.sources.ingest import table_exists


class UnknownQueryTypeError(ValueError):
    """Reference behavior: 400 'Type de requête inconnu' (views.py:114)."""


class StoreNotFoundError(FileNotFoundError):
    """Reference behavior: 404 'Base de données non trouvée' (views.py:96)."""


class UnknownParameterError(ValueError):
    """A request parameter outside the reference's query-string names."""


# reference query-string parameter names -> engine keyword arguments
_PARAM_MAP = {
    "catID": "cat_id",
    "fabID": "fab_id",
    "debut": "debut",
    "fin": "fin",
    "annee": "annee",
    "epoch": "epoch",
    "as_of": "as_of",
}


def run_query(
    spark: SparkSession, sf_dir: str, type_param: str, **request_params: Any
) -> DataFrame:
    """Dispatch a reference-style request.

    >>> run_query(spark, sf_dir, "top-magasins-cat",
    ...           catID="Brand#4", debut="1996-01-01", fin="1997-12-31")
    """
    from projet_etl_spark.sources.tables import _native_path

    if _native_path(sf_dir, "points_de_vente") is None and not table_exists(
        spark, f"{sf_dir}/lineitem.parquet"
    ):
        raise StoreNotFoundError(f"no warehouse at {sf_dir}")
    if type_param not in REGISTRY:
        raise UnknownQueryTypeError(f"unknown query type: {type_param!r}")
    unknown = set(request_params) - set(_PARAM_MAP)
    if unknown:
        raise UnknownParameterError(f"unknown parameters: {sorted(unknown)}")
    kwargs = {
        _PARAM_MAP[k]: v for k, v in request_params.items() if v is not None
    }
    fn = REGISTRY[type_param].fn
    accepted = set(inspect.signature(fn).parameters)
    kwargs = {k: v for k, v in kwargs.items() if k in accepted}
    return fn(spark, sf_dir, **kwargs)


def to_records(df: DataFrame) -> list[dict]:
    """JSON-edge serialization (reference views.py:152-154
    to_dict(orient='records'))."""
    return [row.asDict(recursive=True) for row in df.collect()]
