"""Plan build runs no avoidable Spark job: the schema-memoized parquet
reader (sources/tables.read_parquet) and the zero-job builders that
rest on it.

Footer inference is a Spark job; a read with the schema supplied is
not. These tests pin that the memo never serves a stale schema, never
hides a missing or broken table, and never shares a relation between
two reads — and that, once warm, building a request plan runs no job
before its collect, takes a bounded number of py4j round trips, and
running it compiles no generated class.
"""

from __future__ import annotations

import gc
import itertools
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from projet_etl_spark import api
from tests.conftest import SF_SMALL

_groups = itertools.count()

# the reference's 11 request types (views.py:9-89), built through the API
_API_TYPES = (
    "cat",
    "mag-cat",
    "fab-cat",
    "avg-prod-per-fab",
    "top-magasins",
    "top-magasins-cat",
    "nb-mag-cat-date",
    "score-evolution",
    "top-1",
    "avg-cat-fab-10-mag",
    "score-sante-touts-les-mois",
)


def _jobs_while(spark, build):
    """(result of build(), ids of the jobs it ran)."""
    sc = spark.sparkContext
    group = f"plan-build-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = build()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_rewritten_table_is_read_fresh(spark, tmp_path):
    """A file rewritten in place with other rows and columns moves its
    fingerprint: the next load_table infers the new schema. A repeat
    read of an unchanged file plans with zero jobs."""
    from projet_etl_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert [r.a for r in load_table(spark, str(tmp_path), "t").collect()] == [1, 2, 3]
    df, jobs = _jobs_while(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == [] and df.columns == ["a"]

    pq.write_table(
        pa.table({"a": [4, 5, 6, 7, 8], "b": ["p", "q", "r", "s", "t"]}), path
    )
    rows = load_table(spark, str(tmp_path), "t").orderBy("a").collect()
    assert [tuple(r) for r in rows] == [
        (4, "p"), (5, "q"), (6, "r"), (7, "s"), (8, "t")
    ]


def test_rewritten_directory_table_is_read_fresh(spark, tmp_path):
    """The same for a directory of part files that Spark overwrites."""
    from projet_etl_spark.sources.tables import load_table

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([(2, "x"), (3, "y")], "a long, c string").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c"] and df.count() == 2


def test_table_exists_is_not_fooled_by_the_memo(spark, tmp_path):
    """A missing path reads False, a corrupt footer raises, and the
    failed inference is not remembered: once the file is repaired the
    probe infers it afresh."""
    from projet_etl_spark.sources import tables
    from projet_etl_spark.sources.ingest import table_exists

    assert not table_exists(spark, str(tmp_path / "missing"))
    p = tmp_path / "table"
    p.mkdir()
    bad = p / "part-00000.parquet"
    bad.write_bytes(b"PAR1 this is not a parquet footer" + b"\x00" * 64)
    with pytest.raises(Exception, match="[Pp]arquet|footer|magic"):
        table_exists(spark, str(p))
    assert str(p) not in tables._SCHEMAS

    bad.unlink()
    pq.write_table(pa.table({"a": [1]}), str(p / "part-00000.parquet"))
    assert table_exists(spark, str(p))
    _, jobs = _jobs_while(spark, lambda: table_exists(spark, str(p)))
    assert jobs == []


def test_self_join_of_two_loads_resolves(spark):
    """Two load_table calls on one table are two relations, so a
    self-join condition between them is not trivially true."""
    from collections import Counter

    from projet_etl_spark.sources.tables import load_table

    a = load_table(spark, SF_SMALL, "nation")
    b = load_table(spark, SF_SMALL, "nation")
    per_region = Counter(r.n_regionkey for r in a.collect())
    joined = a.join(b, a.n_regionkey == b.n_regionkey).count()
    assert joined == sum(n * n for n in per_region.values())


def test_events_reads_outside_the_memo(spark):
    """events() keeps its own conf-scoped read: its inference depends
    on nanosAsLong, so its schema is never memoized."""
    from pyspark.sql.types import TimestampType

    from projet_etl_spark.sources import tables

    ev = tables.events(spark, SF_SMALL)
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert f"{SF_SMALL}/events.parquet" not in tables._SCHEMAS


@pytest.mark.parametrize(
    "name", [*_API_TYPES, "bpe-learn-merges", "dedup-prefix-filter"]
)
def test_warm_plan_build_runs_no_job(spark, name):
    """After one warm call (staged views built, schemas inferred),
    building the plan again runs no Spark job before its collect."""
    from projet_etl_spark.plans.registry import queries

    def build():
        if name in _API_TYPES:
            return api.run_query(spark, SF_SMALL, name)
        return queries()[name](spark, SF_SMALL)

    build().collect()
    df, jobs = _jobs_while(spark, build)
    assert jobs == [], f"{name}: plan build ran jobs {jobs}"
    df.collect()


# A request is one parameterized ``spark.sql`` over named views: the
# statement, its arguments and the returned DataFrame take 17-29
# round trips; a DataFrame built call by call took 81-840.
WARM_BUILD_ROUND_TRIPS = 64


@pytest.mark.parametrize("name", _API_TYPES)
def test_warm_api_build_round_trips_are_bounded(spark, monkeypatch, name):
    """After one warm call, building the request again takes at most
    WARM_BUILD_ROUND_TRIPS py4j commands from the building thread.
    py4j frees a Python proxy's Java object with a command of its own,
    sent from its finalizer thread: the garbage collection before the
    build and the thread filter keep earlier requests' frees out of
    the count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    commands = []

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            commands.append(command.split("\n", 1)[0])
        return send(command, *args, **kwargs)

    api.run_query(spark, SF_SMALL, name).collect()
    gc.collect()
    monkeypatch.setattr(client, "send_command", counting)
    df = api.run_query(spark, SF_SMALL, name)
    monkeypatch.undo()
    assert len(commands) <= WARM_BUILD_ROUND_TRIPS, (
        f"{name}: warm build made {len(commands)} py4j round trips"
    )
    df.collect()


def test_warm_request_pass_compiles_no_class(spark):
    """A second identical pass of the 11 request types reuses every
    generated class: the codegen cache (session.CODEGEN_CACHE_MAX_ENTRIES)
    holds a whole pass. At the upstream 100 entries the LRU evicts each
    class before the pass comes back to it."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def one_pass():
        for name in _API_TYPES:
            api.to_records(api.run_query(spark, SF_SMALL, name))

    one_pass()
    before = compiles()
    one_pass()
    assert compiles() - before == 0
