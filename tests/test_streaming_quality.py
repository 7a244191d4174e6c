"""Streaming quality-budget maintenance: the folded per-batch
partials must equal the batch corpus-quality-budget on the full
corpus, a replayed batch must not double-count, and compaction must
preserve the folded result while collapsing partitions."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq

from projet_etl_spark.operators.quality_model import q_corpus_quality_budget
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.quality import (
    compact_budget,
    read_budget,
    upsert_budget_batch,
)
from tests.conftest import SF_SMALL

DOC_SCHEMA = "doc_id long, text string, lang string"


def _stage(spark, stream_dir, n_files=3):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
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
                    "lang": pa.array([r.lang for r in part]),
                }
            ),
            str(stream_dir / f"part{i}.parquet"),
        )
    return rows


def _as_map(df):
    return {(r.lang, r.keep): (r.n_docs, r.n_tokens) for r in df.collect()}


def test_stream_budget_equals_batch(spark, tmp_path):
    _stage(spark, tmp_path / "docs_stream")
    store = str(tmp_path / "budget")
    q = storeio.replay(
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "docs_stream")),
        partial(upsert_budget_batch, store_path=store),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = _as_map(read_budget(spark, store))
    want = _as_map(q_corpus_quality_budget(spark, SF_SMALL))
    assert want, "fixture corpus must produce a budget"
    assert got == want

    # compaction folds partitions but not results
    assert compact_budget(spark, store) == 1
    assert _as_map(read_budget(spark, store)) == want


def test_budget_replay_is_idempotent(spark, tmp_path):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
        .limit(100)
        .collect()
    )
    docs = spark.createDataFrame(
        [(r.doc_id, r.text, r.lang) for r in rows], DOC_SCHEMA
    )
    store = str(tmp_path / "budget")
    upsert_budget_batch(docs, 0, store)
    once = _as_map(read_budget(spark, store))
    upsert_budget_batch(docs, 0, store)  # at-least-once replay
    assert _as_map(read_budget(spark, store)) == once
