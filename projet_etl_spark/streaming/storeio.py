"""The replay protocol and the read/compact plumbing of the per-batch
parquet stores.

Every store-backed registry query (streaming/storequery.py) feeds its
store through the same three pieces, which live here and nowhere
else:

**Stage.** ``stage_chunks`` sorts a source table by its replay key
and writes it as ``N_CHUNKS`` row-slice parquet files whose mtimes
strictly increase, so the file source (one file per trigger) hands
micro-batch ``k`` exactly slice ``k``, in key order. Order-sensitive
streams (SCD2, sessions, the interval join) need that order to equal
the batch rebuild; the embedding-dedup sink relies on it to make every
planted pair cross a batch boundary; the rest are order-invariant and
get the same reproducible batches.

**Replay.** ``replay`` runs ``foreachBatch(body)`` under a checkpoint
with ``trigger(availableNow=True)``: drain what is there, then stop.
A store differs from another only in its body, an ordinary DataFrame
plan over one micro-batch.

**Write.** ``write_batch_partition`` lands a body's output under its
own ``batch=<id>`` partition with dynamic partition overwrite, so a
replayed batch (foreachBatch is at-least-once after a crash)
rewrites exactly its own partition instead of double-counting.

The disciplines that keep those stores honest:

**Reads distinguish "empty" from "broken"** (round-7, advisor item).
A missing store path, or a path holding only zero-row batch markers
parquet can't infer a schema from, is a legitimately EMPTY store; a
permission error, corrupt footer, or schema drift is a BROKEN one
and must propagate — serving an empty ranking because the index is
unreadable is silent data loss. ``read_store`` therefore catches
only the no-footers ``AnalysisException`` on the bare read, and runs
the column projection OUTSIDE the try so drift fails loudly.

**Compaction never touches the newest batch partition** (round-7,
advisor item). Structured Streaming creates batch N+1 only after
batch N's offsets are checkpoint-committed, so the one batch a
restart can ever replay is the HIGHEST id present (it may have
written its partition and crashed before the commit). Merging that
partition into a rollup would let its replay — a dynamic partition
overwrite of its own id — clobber the merged state. So
``split_for_compaction`` folds only ``batch < max(batch)`` into the
reserved ``batch = RESERVED_COMPACT_BATCH`` partition (an id the
stream can never emit, so no replay can ever overwrite it) and
keeps the newest partition verbatim; a replayed newest batch then
rewrites exactly its own partition, idempotently, with zero
double-count exposure.

**Reads are safe against a concurrent compactor** (round-10, verdict
item 6 — the round-9 layer assumed single-writer ownership extended
to readers): ``read_store`` routes through ``live_read_path`` instead
of running the mutating ``recover_swap``. A reader now never touches
an in-flight ``._compacting`` directory and never renames the parked
aside while the publisher's ``._swaplock`` is fresh — it simply reads
the parked bytes (the complete pre-publish store) for the duration of
the rename window. Mutation happens on the read path only when a swap
is provably DEAD (aside with no live dir and a stale/absent lock),
preserving the r8 guarantee that a crashed swap never reads as a
legitimately empty store. The single-writer assumption still applies
to WRITERS (Structured Streaming's checkpoint protocol imposes it
anyway); it no longer needs to cover readers.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Sequence
from typing import TYPE_CHECKING

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

if TYPE_CHECKING:
    import pyarrow as pa

# merged-rollup partition id: foreachBatch ids are >= 0, so -1 can
# never collide with (or be replayed over) a real micro-batch
RESERVED_COMPACT_BATCH = -1
# row slices per staged replay: enough micro-batches that every store
# exercises its cross-batch path (batch x store joins, state carried
# between triggers), few enough to stay refresh cost
N_CHUNKS = 4


def stage_chunks(table: pa.Table, keys: Sequence[str], chunk_dir: str) -> None:
    """Write ``table`` sorted by ``keys`` as N_CHUNKS row-slice parquet
    files with strictly increasing mtimes, so a file source read one
    file per trigger delivers slice ``k`` as micro-batch ``k``. The
    sort makes the staged bytes reproducible run to run."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if table.num_rows:
        table = table.take(
            pc.sort_indices(table, sort_keys=[(k, "ascending") for k in keys])
        )
    os.makedirs(chunk_dir, exist_ok=True)
    n, base = table.num_rows, time.time()
    for k in range(N_CHUNKS):
        lo, hi = k * n // N_CHUNKS, (k + 1) * n // N_CHUNKS
        path = os.path.join(chunk_dir, f"chunk{k:02d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (base + k, base + k))


def replay(
    stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start ``stream`` through ``foreachBatch(body)`` under
    ``checkpoint`` with the availableNow trigger: it processes the
    input available now, in as many micro-batches as the source's
    per-trigger limit makes, then stops. ``body(batch_df, batch_id)``
    is typically a module's ``upsert_*_batch`` with its store paths
    bound by ``functools.partial``."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Idempotent per-batch append: overwrite only this batch's
    partition (replay-safe), leave every other batch untouched. Its
    arguments follow the foreachBatch body's, so
    ``partial(write_batch_partition, path=store)`` is itself a body."""
    (
        df.withColumn("batch", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch")
        .parquet(path)
    )


def read_store(
    spark: SparkSession, path: str, schema: str, cols: list[str]
) -> DataFrame:
    """Read a per-batch parquet store, or an empty frame when the
    store legitimately has no data yet. Broken stores raise.

    Resolves an interrupted or in-flight compaction swap first
    (round-8 recovery, round-10 concurrency): a crash between
    swap_publish's park and publish renames leaves the data parked
    aside with no live directory — without resolving that, the window
    read as "legitimately empty" and a ranking served from it
    silently lost the whole store (the exact silent-loss class this
    module exists to prevent). live_read_path restores a provably
    DEAD swap, serves the parked bytes through a LIVE one (fresh
    ``._swaplock``), and mutates nothing otherwise — so readers no
    longer race a concurrent compactor (module docstring). It is a
    no-op for stores with no pending swap."""
    from projet_etl_spark.sources.ingest import live_read_path

    path = live_read_path(path)
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        # directory exists but holds no readable parquet footers
        # (only zero-row batch markers) -> empty store
        return spark.createDataFrame([], schema)
    # projection outside the try: a store with the WRONG columns is
    # schema drift, not emptiness — let it propagate
    return df.select(*cols)


def compact_append_store(
    spark: SparkSession, path: str, cols: list[str]
) -> int:
    """Fold the replay-committed batches of an APPEND-style store
    (rows are facts, disjoint across batches — near-dup pairs, band
    keys, vectors) into the reserved ``batch = -1`` partition
    VERBATIM, keeping the newest partition untouched (the only one a
    restart can replay, see module docstring). Compaction here
    changes the layout — partition/file count stops growing with the
    batch count — never the rows; aggregate-style stores (frontier
    partials, quality budget) fold through their own merge instead.
    Published via the atomic-swap + writer-lease discipline of
    sources.ingest. Returns the row count of the compacted store."""
    import os

    from projet_etl_spark.sources.ingest import recover_swap, swap_publish

    # recover BEFORE the existence probe (a crashed swap parks the
    # only copy aside; the non-mutating read path won't restore it)
    recover_swap(path)
    if not os.path.exists(path):
        return 0
    df = spark.read.parquet(path)
    split = split_for_compaction(df)
    if split is None:
        return df.count() if df.columns else 0
    older, newest = split
    merged = (
        older.select(*cols)
        .withColumn("batch", F.lit(RESERVED_COMPACT_BATCH))
        .coalesce(1)
    )
    out = merged.unionByName(
        newest.select(*cols, "batch").coalesce(1)
    ).localCheckpoint()
    swap_publish(
        path,
        lambda tmp: out.write.mode("overwrite")
        .partitionBy("batch")
        .parquet(tmp),
    )
    return spark.read.parquet(path).count()


def split_for_compaction(df: DataFrame) -> tuple[DataFrame, DataFrame] | None:
    """(older, newest) split of a per-batch store by its ``batch``
    column: ``older`` is every partition a restart can no longer
    replay (checkpoint-committed by construction), ``newest`` is the
    single highest-id partition, kept verbatim. None when there is
    nothing safe to compact (empty store, or only the newest / only
    already-compacted partitions)."""
    maxb = df.agg(F.max("batch")).first()[0]
    if maxb is None or int(maxb) <= RESERVED_COMPACT_BATCH:
        return None
    older = df.filter(F.col("batch") < int(maxb))
    if older.isEmpty():
        return None
    newest = df.filter(F.col("batch") == int(maxb))
    return older, newest
