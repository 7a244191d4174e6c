"""The one replay protocol behind every streaming store: the shared
builder hands micro-batch k exactly staged slice k in key order,
deletes the chunks once the stream has drained, and reuses the store
on a marker hit; the micro-batches' jobs run in the caller's job
group; and ``foreachBatch`` is written in one module only, so a new
store cannot grow its own copy of the protocol."""

from __future__ import annotations

import os
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import projet_etl_spark
from projet_etl_spark.streaming import storeio, storequery


def test_replayed_store_delivers_slice_k_as_batch_k(spark, tmp_path):
    n = 5 * storeio.N_CHUNKS
    ks = list(range(n))
    random.Random(0).shuffle(ks)  # the source is not in key order
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"k": pa.array(ks, pa.int64()), "v": [f"r{k}" for k in ks]}),
        str(sf / "keyed.parquet"),
    )
    seen: list[tuple[int, list[int]]] = []

    def record(batch_df, batch_id):
        seen.append((batch_id, [r.k for r in batch_df.collect()]))

    def build():
        return storequery._replayed_store(
            str(tmp_path / "stores"),
            str(sf),
            storequery._file_feed(spark, str(sf), "keyed.parquet", "k long, v string"),
            version="keyed-v1",
            body=lambda root: record,
        )

    out = build()
    step = n // storeio.N_CHUNKS
    assert seen == [
        (k, list(range(k * step, (k + 1) * step))) for k in range(storeio.N_CHUNKS)
    ]
    assert not os.path.exists(os.path.join(os.path.dirname(out), "chunks"))

    # a second call is a marker hit: nothing is staged or replayed
    assert build() == out
    assert len(seen) == storeio.N_CHUNKS

    # the delivery order rests on the staged mtimes, not on file names
    chunks = tmp_path / "chunks"
    storeio.stage_chunks(pq.read_table(str(sf / "keyed.parquet")), ["k"], str(chunks))
    mtimes = [os.stat(chunks / f).st_mtime_ns for f in sorted(os.listdir(chunks))]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))


def test_foreach_batch_lives_only_in_storeio():
    pkg = Path(projet_etl_spark.__file__).parent
    homes = sorted(
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if "foreachBatch(" in p.read_text(encoding="utf-8")
    )
    assert homes == ["streaming/storeio.py"]


def test_replayed_batches_run_in_the_callers_job_group(spark, tmp_path):
    chunks = str(tmp_path / "chunks")
    storeio.stage_chunks(pa.table({"k": pa.array(range(8), pa.int64())}), ["k"], chunks)
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(chunks)
    )
    sc = spark.sparkContext
    sc.setJobGroup("replay-caller", "replay-caller")
    try:
        storeio.replay(
            stream, lambda df, _: df.count(), str(tmp_path / "ckpt")
        ).awaitTermination()
        jobs = sc.statusTracker().getJobIdsForGroup("replay-caller")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one count per micro-batch at least, all on the stream's thread
    assert len(jobs) >= storeio.N_CHUNKS
