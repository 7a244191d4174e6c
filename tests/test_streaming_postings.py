"""Streaming inverted-postings maintenance: the unioned store must
equal the batch postings exactly, BM25 over the store must equal the
batch query row-for-row, and replay must not duplicate postings."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from projet_etl_spark.functions.text import tokens
from projet_etl_spark.operators.retrieval import q_bm25_topk
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.postings import (
    bm25_from_store,
    read_postings,
    upsert_postings_batch,
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


def test_stream_postings_equal_batch_and_serve_bm25(spark, tmp_path):
    _stage(spark, tmp_path / "docs_stream")
    store = str(tmp_path / "idx")
    q = storeio.replay(
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "docs_stream")),
        partial(upsert_postings_batch, store_path=store),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, read_postings(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .collect(),
        )
    )
    assert got == want

    served = [tuple(r) for r in bm25_from_store(spark, store).collect()]
    batch = [tuple(r) for r in q_bm25_topk(spark, SF_SMALL).collect()]
    assert served == batch


def test_replay_is_idempotent(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    store = str(tmp_path / "idx")
    upsert_postings_batch(docs, 0, store)
    first = sorted(map(tuple, read_postings(spark, store).collect()))
    upsert_postings_batch(docs, 0, store)
    second = sorted(map(tuple, read_postings(spark, store).collect()))
    assert first == second


def test_empty_store_serves_empty(spark, tmp_path):
    assert bm25_from_store(spark, str(tmp_path / "missing")).collect() == []
