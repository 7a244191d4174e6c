"""Request-style dispatch API: parameter mapping, error contract
(reference views.py:92-96 404 / views.py:113-114 400), JSON edge."""

from __future__ import annotations

import pytest

from projet_etl_spark.api import (
    StoreNotFoundError,
    UnknownQueryTypeError,
    run_query,
    to_records,
)
from tests.conftest import SF_SMALL


def test_dispatch_with_reference_param_names(spark):
    df = run_query(
        spark,
        SF_SMALL,
        "top-magasins-cat",
        catID="Brand#4",
        debut="1996-01-01",
        fin="1997-12-31",
    )
    recs = to_records(df)
    assert 0 < len(recs) <= 10
    assert set(recs[0]) == {
        "magid", "total_fabricants", "total_produits", "total_ventes", "score",
    }


def test_unused_params_are_ignored(spark):
    # reference parses magID/annee for every request but most queries
    # ignore them (views.py:102-110); annee isn't a cat-query param
    df = run_query(spark, SF_SMALL, "cat", catID="Brand#4", annee=1996)
    assert df.count() > 0


def test_unknown_type_rejected(spark):
    with pytest.raises(UnknownQueryTypeError):
        run_query(spark, SF_SMALL, "drop-tables")


def test_unknown_param_rejected(spark):
    # unlike the reference's str.format splicing (views.py:143), junk
    # params fail closed instead of reaching SQL
    with pytest.raises(ValueError, match="unknown parameters"):
        run_query(spark, SF_SMALL, "cat", catID="Brand#4", catid="'; DROP --")


def test_missing_store_404(spark, tmp_path):
    with pytest.raises(StoreNotFoundError):
        run_query(spark, str(tmp_path / "nowhere"), "cat", catID="Brand#4")


def test_query_cli_json_roundtrip(spark, capsys):
    import json

    from projet_etl_spark.query import main

    rc = main(
        [
            "top-magasins-cat",
            "--sf-dir",
            SF_SMALL,
            "--param",
            "catID=Brand#4",
            "--param",
            "debut=1996-01-01",
            "--param",
            "fin=1997-12-31",
        ],
        spark=spark,
    )
    assert rc == 0
    recs = json.loads(capsys.readouterr().out)
    assert 0 < len(recs) <= 10
    assert set(recs[0]) == {
        "magid", "total_fabricants", "total_produits", "total_ventes", "score",
    }


def test_query_cli_error_codes(spark, tmp_path, capsys):
    from projet_etl_spark.query import main

    assert main(["nope", "--sf-dir", SF_SMALL], spark=spark) == 4  # 400
    assert (
        main(["cat", "--sf-dir", str(tmp_path / "nowhere")], spark=spark) == 44
    )  # 404
    assert main(["cat", "--sf-dir", SF_SMALL, "--param", "junk"], spark=spark) == 2
    assert (
        main(["cat", "--sf-dir", SF_SMALL, "--param", "catid=x"], spark=spark) == 2
    )
    assert "unknown parameters: ['catid']" in capsys.readouterr().err


def test_rollup_type_answers_like_raw_query(spark):
    """The API dispatches from the registry: a rollup twin takes the
    reference's debut/fin and answers like its raw query."""
    params = {"debut": "1996-03-01", "fin": "1997-06-30"}
    raw = to_records(run_query(spark, SF_SMALL, "top-magasins", **params))
    rollup = to_records(run_query(spark, SF_SMALL, "top-magasins-rollup", **params))
    assert 0 < len(raw) <= 10
    assert rollup == raw


def test_query_cli_serves_extension_queries(spark, capsys):
    import json
    from operator import itemgetter

    from projet_etl_spark.plans.registry import REGISTRY
    from projet_etl_spark.query import main

    assert main(["dedup-exact", "--sf-dir", SF_SMALL], spark=spark) == 0
    printed = json.loads(capsys.readouterr().out)
    direct = to_records(REGISTRY["dedup-exact"].fn(spark, SF_SMALL))
    key = itemgetter("keep_id")
    assert len(printed) > 0
    assert sorted(printed, key=key) == sorted(
        json.loads(json.dumps(direct, default=str)), key=key
    )
