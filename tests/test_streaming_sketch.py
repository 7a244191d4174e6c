"""Streaming count-min maintenance: folded per-batch partial sketches
must equal the batch sketch CELL-FOR-CELL (integer partials merge in
any order), replay must not double-count, and the folded sketch must
answer point queries with the batch operator's estimates."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from projet_etl_spark.operators.sketches import q_token_freq_cms
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.sketch import (
    cms_of_batch,
    estimate_counts,
    read_cms,
    upsert_cms_batch,
)
from tests.conftest import SF_SMALL

DOC_SCHEMA = "doc_id long, text string"


def _stage(spark, stream_dir, n_files=3):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    stream_dir.mkdir()
    for i in range(n_files):
        part = [r for r in rows if r.doc_id % n_files == i]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r.doc_id for r in part], pa.int64()),
                    "text": pa.array([r.text for r in part]),
                }
            ),
            str(stream_dir / f"part{i}.parquet"),
        )
    return rows


def _cells(df):
    return {(r.r, r.bucket): r.c for r in df.collect()}


def test_stream_cms_equals_batch_cells(spark, tmp_path):
    _stage(spark, tmp_path / "docs_stream")
    store = str(tmp_path / "cms")
    q = storeio.replay(
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "docs_stream")),
        partial(upsert_cms_batch, store_path=store),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    folded = _cells(read_cms(spark, store))
    batch = _cells(
        cms_of_batch(spark.read.parquet(f"{SF_SMALL}/documents.parquet"))
    )
    assert folded == batch

    # the folded sketch answers point queries exactly like the batch
    # operator's estimates for the audited top-k tokens
    audit = q_token_freq_cms(spark, SF_SMALL).select("tok", "cms_n")
    want = {r.tok: r.cms_n for r in audit.collect()}
    got = {
        r.tok: r.cms_n
        for r in estimate_counts(
            read_cms(spark, store), audit.select("tok")
        ).collect()
    }
    assert got == want


def test_cms_replay_is_idempotent(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    store = str(tmp_path / "cms")
    upsert_cms_batch(docs, 0, store)
    once = _cells(read_cms(spark, store))
    upsert_cms_batch(docs, 0, store)  # at-least-once replay
    assert _cells(read_cms(spark, store)) == once
