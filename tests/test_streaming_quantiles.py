"""Streaming bottom-K sample maintenance: the folded store must equal
the batch sample (and its decile estimates) row-for-row, and replay
must not change the store."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from projet_etl_spark.operators.sketches import q_quantiles_hash_sample
from projet_etl_spark.sources.tables import events
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.quantiles import (
    read_quantiles,
    read_sample,
    upsert_bottomk_batch,
)
from tests.conftest import SF_SMALL

EV_SCHEMA = "event_id long, value double"


def _stage(spark, stream_dir, n_files=3):
    rows = (
        events(spark, SF_SMALL).select("event_id", "value").collect()
    )
    stream_dir.mkdir()
    for i in range(n_files):
        part = [r for r in rows if r.event_id % n_files == i]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(
                        [r.event_id for r in part], pa.int64()
                    ),
                    "value": pa.array(
                        [r.value for r in part], pa.float64()
                    ),
                }
            ),
            str(stream_dir / f"part{i}.parquet"),
        )


def test_stream_sample_equals_batch(spark, tmp_path):
    _stage(spark, tmp_path / "ev_stream")
    store = str(tmp_path / "bottomk")
    q = storeio.replay(
        spark.readStream.schema(EV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ev_stream")),
        partial(upsert_bottomk_batch, store_path=store),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got_sample = sorted(
        map(tuple, read_sample(spark, store).collect())
    )
    want_sample = sorted(
        map(
            tuple,
            events(spark, SF_SMALL)
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.encode(F.col("event_id").cast("string"), "UTF-8")),
                        1,
                        15,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("hk"),
                "value",
            )
            .orderBy("hk", "value")
            .limit(1024)
            .collect(),
        )
    )
    assert got_sample == want_sample

    got_q = [tuple(r) for r in read_quantiles(spark, store).collect()]
    want_q = [
        tuple(r) for r in q_quantiles_hash_sample(spark, SF_SMALL).collect()
    ]
    assert got_q == want_q


def test_replay_is_idempotent(spark, tmp_path):
    _stage(spark, tmp_path / "ev_stream")
    store = str(tmp_path / "bottomk")
    batch = spark.read.schema(EV_SCHEMA).parquet(
        str(tmp_path / "ev_stream")
    )
    upsert_bottomk_batch(batch, 0, store)
    first = sorted(map(tuple, read_sample(spark, store).collect()))
    upsert_bottomk_batch(batch, 0, store)  # replayed batch id
    second = sorted(map(tuple, read_sample(spark, store).collect()))
    assert first == second


def test_empty_store_reads_empty(spark, tmp_path):
    assert read_sample(spark, str(tmp_path / "missing")).collect() == []
    assert read_quantiles(spark, str(tmp_path / "missing")).collect() == []


def test_compaction_preserves_sample(spark, tmp_path):
    _stage(spark, tmp_path / "ev_stream")
    store = str(tmp_path / "bottomk")
    for b in range(3):
        batch = (
            spark.read.schema(EV_SCHEMA)
            .parquet(str(tmp_path / "ev_stream"))
            .filter(F.col("event_id") % 3 == b)
        )
        upsert_bottomk_batch(batch, b, store)
    before = sorted(map(tuple, read_sample(spark, store).collect()))
    from projet_etl_spark.streaming.quantiles import compact_sample_store

    n = compact_sample_store(spark, store)
    after = sorted(map(tuple, read_sample(spark, store).collect()))
    assert after == before and n <= 1024
    # compaction covers only committed batches, so the checkpoint can
    # only replay NEWER batches afterwards (the documented
    # precondition); a new batch 3 with fresh rows folds in correctly
    fresh = spark.createDataFrame(
        [(10_000_001, 0.01), (10_000_002, 999999.99)], EV_SCHEMA
    )
    upsert_bottomk_batch(fresh, 3, store)
    grown = sorted(map(tuple, read_sample(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            read_sample(spark, store)
            .sparkSession.createDataFrame(before, "hk long, value double")
            .unionByName(
                spark.createDataFrame(
                    [(10_000_001, 0.01), (10_000_002, 999999.99)], EV_SCHEMA
                ).select(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.encode(
                                    F.col("event_id").cast("string"), "UTF-8"
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    )
                    .cast("long")
                    .alias("hk"),
                    "value",
                )
            )
            .orderBy("hk", "value")
            .limit(1024)
            .collect(),
        )
    )
    assert grown == want
