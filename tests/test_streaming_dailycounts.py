"""Incremental daily-count store: the folded store equals the batch
daily counts, a REPLAYED micro-batch (same batch_id — the foreachBatch
at-least-once contract) is a no-op, and the CUSUM detector over the
store equals the raw-events query bit for bit."""

from __future__ import annotations

from functools import partial

from projet_etl_spark.operators.stats import cusum_over_daily, q_events_cusum_drift
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.dailycounts import (
    read_daily_counts,
    upsert_daily_counts_batch,
)
from projet_etl_spark.streaming.windows import read_events_stream
from tests.conftest import SF_SMALL
from tests.test_streaming_history import _stage_ordered_chunks


def test_store_fed_cusum_equals_raw_rescan(spark, tmp_path):
    root = str(tmp_path / "daily_stream")
    _stage_ordered_chunks(spark, SF_SMALL, root)
    store = str(tmp_path / "daily_store")
    q = storeio.replay(
        read_events_stream(spark, root, max_files_per_trigger=1),
        partial(upsert_daily_counts_batch, store_path=store),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    # replay one micro-batch under its existing batch_id: the
    # partition overwrite makes it a no-op (the at-least-once
    # contract of foreachBatch — re-delivery carries the batch_id)
    replay_src = spark.read.parquet(f"{root}/chunk00.parquet")
    upsert_daily_counts_batch(replay_src, 0, store)

    daily = read_daily_counts(spark, store)
    # the folded store equals the exact batch daily counts
    from pyspark.sql import functions as F

    from projet_etl_spark.sources.tables import events

    want_daily = sorted(
        (r.event_type, r.d.isoformat(), r.n)
        for r in events(spark, SF_SMALL)
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    got_daily = sorted(
        (r.event_type, r.d.isoformat(), r.n) for r in daily.collect()
    )
    assert got_daily == want_daily
    # the detector over the maintained store == the raw-events query
    got = sorted(tuple(r) for r in cusum_over_daily(daily).collect())
    want = sorted(tuple(r) for r in q_events_cusum_drift(spark, SF_SMALL).collect())
    assert got == want
