"""Streaming minhash-LSH near-dedup: the union of per-micro-batch
pair emissions over a document stream must equal the batch
q_dedup_minhash_lsh result on the full corpus (batch/stream parity),
and a replayed batch must not duplicate pairs or store rows."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq

from projet_etl_spark.operators.dedup import q_dedup_minhash_lsh
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.neardedup import (
    near_dedup_batch,
    read_pairs,
)
from tests.conftest import SF_SMALL

DOC_STREAM_SCHEMA = "doc_id long, text string"


def _stage_stream_files(spark, stream_dir, n_files=3):
    """Split the documents table into n single-file micro-batches
    (deterministic by doc_id) and return the full (doc_id, text)."""
    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    stream_dir.mkdir()
    for i in range(n_files):
        part = [r for r in rows if r.doc_id % n_files == i]
        table = pa.table(
            {
                "doc_id": pa.array([r.doc_id for r in part], pa.int64()),
                "text": pa.array([r.text for r in part]),
            }
        )
        pq.write_table(table, str(stream_dir / f"part{i}.parquet"))
    return rows


def test_stream_near_dedup_equals_batch(spark, tmp_path):
    _stage_stream_files(spark, tmp_path / "docs_stream")
    stream = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "docs_stream"))
    )
    q = storeio.replay(
        stream,
        partial(
            near_dedup_batch,
            store_path=str(tmp_path / "store"),
            pairs_path=str(tmp_path / "pairs"),
        ),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in read_pairs(spark, str(tmp_path / "pairs")).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q_dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert want, "fixture corpus must contain near-dup pairs"
    assert got == want
    # each pair found exactly once across batches
    n_rows = read_pairs(spark, str(tmp_path / "pairs")).count()
    assert n_rows == len(got)


def test_near_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once after a crash: re-running a
    batch id must overwrite its own output partition, leaving pair
    and store contents identical — not doubled."""
    rows = _stage_stream_files(spark, tmp_path / "unused", n_files=1)
    docs = spark.createDataFrame(
        [(r.doc_id, r.text) for r in rows[:200]], DOC_STREAM_SCHEMA
    )
    store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")
    near_dedup_batch(docs, 0, store, pairs)
    first = sorted(
        tuple(r) for r in read_pairs(spark, pairs).collect()
    )
    n_store = spark.read.parquet(f"{store}/docs").count()
    near_dedup_batch(docs, 0, store, pairs)  # replay of batch 0
    again = sorted(
        tuple(r) for r in read_pairs(spark, pairs).collect()
    )
    assert again == first
    assert spark.read.parquet(f"{store}/docs").count() == n_store


def test_compact_store_collapses_files_and_preserves_results(spark, tmp_path):
    """The maintenance hook must collapse the one-partition-per-batch
    store into a single merged partition (small-files fix) without
    changing any result: pairs identical across the compaction, and a
    LATER batch still dedups against the merged history."""
    import glob
    import os

    from projet_etl_spark.streaming.neardedup import compact_store

    def n_files(path):
        return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    store = str(tmp_path / "store")
    pairs = str(tmp_path / "pairs")
    batches = [
        [(r.doc_id, r.text) for r in rows if r.doc_id % 4 == b] for b in range(4)
    ]
    for b in range(3):
        near_dedup_batch(
            spark.createDataFrame(batches[b], DOC_STREAM_SCHEMA), b, store, pairs
        )

    bands = os.path.join(store, "bands")
    before_files = n_files(bands)
    before_pairs = {
        (r.doc_a, r.doc_b, r.jaccard) for r in read_pairs(spark, pairs).collect()
    }
    assert before_files >= 3, "expected one parquet file per batch partition"

    written = compact_store(spark, store, pairs)
    assert set(written) == {bands, os.path.join(store, "docs"), pairs}
    # round-7 contract: batches BELOW the highest id fold into the
    # reserved partition -1; the newest batch partition (the only one
    # a restart can replay) is kept verbatim -> exactly 2 files
    assert n_files(bands) == 2
    assert n_files(os.path.join(store, "docs")) == 2
    assert {
        r.batch for r in spark.read.parquet(bands).select("batch").distinct().collect()
    } == {-1, 2}
    after_pairs = {
        (r.doc_a, r.doc_b, r.jaccard) for r in read_pairs(spark, pairs).collect()
    }
    assert after_pairs == before_pairs

    # replay safety: a crash-replay of the newest batch (id 2 — the
    # one batch whose checkpoint commit may be missing) must rewrite
    # only its own partition, leaving the merged history intact
    near_dedup_batch(
        spark.createDataFrame(batches[2], DOC_STREAM_SCHEMA), 2, store, pairs
    )
    assert {
        (r.doc_a, r.doc_b, r.jaccard) for r in read_pairs(spark, pairs).collect()
    } == before_pairs

    # incremental behavior preserved: the merged partition (batch=-1)
    # still predates batch 3, so cross-batch pairs keep arriving
    near_dedup_batch(
        spark.createDataFrame(batches[3], DOC_STREAM_SCHEMA), 3, store, pairs
    )
    got = {
        (r.doc_a, r.doc_b, r.jaccard) for r in read_pairs(spark, pairs).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in q_dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert want, "fixture corpus must contain near-dup pairs"
    assert got == want
