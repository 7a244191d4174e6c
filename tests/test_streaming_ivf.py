"""Streaming IVF index maintenance: the folded per-batch assignments
against the fixed centroids must equal the batch index row-for-row,
and a replayed batch must not duplicate index entries."""

from __future__ import annotations

from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from projet_etl_spark.functions.vectors import spark_norm2
from projet_etl_spark.operators.similarity import (
    _centroids,
    _emb_with_norm,
    coarse_assign,
)
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.ivf import (
    index_centroids,
    read_assignment,
    upsert_assignment_batch,
)
from tests.conftest import SF_SMALL

VEC_SCHEMA = "vec_id long, embedding array<float>"


def _stage(spark, stream_dir, n_files=3):
    rows = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    stream_dir.mkdir()
    for i in range(n_files):
        part = [r for r in rows if r.vec_id % n_files == i]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r.vec_id for r in part], pa.int64()),
                    "embedding": pa.array(
                        [list(r.embedding) for r in part],
                        pa.list_(pa.float32()),
                    ),
                }
            ),
            str(stream_dir / f"part{i}.parquet"),
        )


def _index(df):
    return {(r.vec_id, r.cell) for r in df.collect()}


def test_stream_ivf_equals_batch_assignment(spark, tmp_path):
    _stage(spark, tmp_path / "vec_stream")
    cents = index_centroids(spark, SF_SMALL).localCheckpoint()
    store = str(tmp_path / "ivf")
    q = storeio.replay(
        spark.readStream.schema(VEC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "vec_stream")),
        partial(upsert_assignment_batch, store_path=store, cents=cents),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = _index(read_assignment(spark, store))
    base = _emb_with_norm(spark, SF_SMALL)
    want = _index(
        coarse_assign(base, F.broadcast(_centroids(base))).select("vec_id", "cell")
    )
    assert want, "fixture embeddings must produce an index"
    assert got == want


def test_ivf_replay_is_idempotent(spark, tmp_path):
    vecs = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(50)
    )
    cents = index_centroids(spark, SF_SMALL).localCheckpoint()
    store = str(tmp_path / "ivf")
    upsert_assignment_batch(vecs, 0, store, cents)
    once = _index(read_assignment(spark, store))
    upsert_assignment_batch(vecs, 0, store, cents)  # at-least-once replay
    assert _index(read_assignment(spark, store)) == once
    assert read_assignment(spark, store).count() == len(once)
