"""Batch queries over streaming-maintained stores — the driver-visible
face of the streaming surface.

Every other streaming module is pinned by batch-parity pytest only
(a SQL oracle can't watch a stream run). This module closes that gap
for the daily-count store: the registry query ``daily-counts-store``
REBUILDS the store through the real Structured Streaming path
(file-source chunks → availableNow micro-batches → idempotent
per-batch partition writes, streaming/dailycounts.py), then reads the
folded store back as a plain batch DataFrame — which a DuckDB oracle
CAN check, because the folded store must equal the batch daily counts
over the same events exactly (partial counts are additive).

So a green CORRECTNESS row for ``daily-counts-store`` is hard
evidence the incremental path computes the same answer as a rescan —
store→query parity, checked by the external driver, not just pytest.

Scale design (100 TB): the stream touches each event once and lands
a days×types-sized partial per micro-batch; the store stays bounded
by the key grain, and the batch read folds |batches|×grain rows —
never the event history. Store build is REFRESH cost: it runs once
per source fingerprint (size+mtime marker) and is reused until the
source changes, so the measured query cost is the fold+read, same
accounting as the materialized monthly rollup.

Reference: the reference app has no streaming or incremental
maintenance (SURVEY.md §2.11 — none); this is a beyond-reference
training-pipeline capability.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.sources.staging import ensure_staged, parquet_fingerprint
from projet_etl_spark.streaming.dailycounts import (
    read_daily_counts,
    stream_daily_counts,
)
from projet_etl_spark.streaming.windows import read_events_stream

# streaming stores live beside the Spark warehouse dir (gitignored,
# inside the repo sandbox)
STORE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
    "stores",
    "daily_counts",
)
N_CHUNKS = 4


def _stage_event_chunks(sf_dir: str, chunk_dir: str) -> None:
    """Split the events table into N_CHUNKS row-slice parquet files so
    the file source delivers multiple micro-batches. Daily counts are
    additive, so chunk boundaries don't affect the folded result; the
    slice order is still made deterministic (ts, event_id) so the
    staged bytes are reproducible run to run."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    if table.num_rows:
        order = pc.sort_indices(
            table, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        table = table.take(order)
    os.makedirs(chunk_dir, exist_ok=True)
    n = table.num_rows
    for k in range(N_CHUNKS):
        lo, hi = k * n // N_CHUNKS, (k + 1) * n // N_CHUNKS
        pq.write_table(table.slice(lo, hi - lo), f"{chunk_dir}/chunk{k:02d}.parquet")


def _drain(q, chunks: str) -> None:
    """Wait for an availableNow query, then delete the chunks it
    replayed: the stream is their only reader (stores, compactions
    and serving reads never open them, and a rebuild restages them
    from the source), so a kept copy only doubles the staged bytes."""
    q.awaitTermination()
    shutil.rmtree(chunks)


def _source_fingerprint(sf_dir: str) -> str:
    return parquet_fingerprint(sf_dir, "events.parquet")


def ensure_daily_counts_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-written daily-count store for
    ``sf_dir``. The store is keyed by the events file's fingerprint
    (the shared ensure_staged protocol): a regenerated fixture
    invalidates it, repeat queries reuse it — build is refresh cost,
    not query cost."""

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_event_chunks(sf_dir, chunks)
        q = stream_daily_counts(
            read_events_stream(spark, chunks, max_files_per_trigger=1),
            os.path.join(root, "store"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)

    return ensure_staged(
        STORE_ROOT, sf_dir, _source_fingerprint(sf_dir), "store", _build,
        version="daily-counts-v1",
    )


def q_daily_counts_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n) daily event counts served from the
    incremental store the streaming path maintains — oracled against
    a direct GROUP BY over raw events, so the driver's value hash
    proves store→rescan parity end to end."""
    store = ensure_daily_counts_store(spark, sf_dir)
    return (
        read_daily_counts(spark, store)
        .select("event_type", "d", F.col("n").cast("long").alias("n"))
        .orderBy("event_type", "d")
    )


# --- bottom-K sample store (quantile sketch) ---------------------------

BOTTOMK_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "bottomk_sample")


def ensure_bottomk_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained bottom-K value
    sample for ``sf_dir``, COMPACTED: after the availableNow replay
    lands one K-row partial per micro-batch, compact_sample_store
    folds the replay-committed partials into the reserved batch=-1
    partition (the round-8 crash-hardened path), so the driver row
    over this store also certifies that compaction is
    read-invariant. Fingerprint-keyed refresh cost, like every other
    store."""
    from projet_etl_spark.streaming.quantiles import (
        compact_sample_store,
        stream_value_sample,
    )

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_event_chunks(sf_dir, chunks)
        q = stream_value_sample(
            read_events_stream(spark, chunks, max_files_per_trigger=1).select(
                "event_id", "value"
            ),
            os.path.join(root, "store"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)
        compact_sample_store(spark, os.path.join(root, "store"))

    return ensure_staged(
        BOTTOMK_ROOT, sf_dir, _source_fingerprint(sf_dir), "store", _build,
        version="bottomk-v1",
    )


def q_bottomk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile estimates served from the incremental bottom-K-by-hash
    sample store — the streaming twin of quantiles-hash-sample, and
    a store→rescan parity gate the external driver can value-check:
    the bottom-K of a union IS the bottom-K of the per-batch
    bottom-Ks, so the folded (and compacted) store must reproduce
    the batch operator's sample BIT-IDENTICALLY, deciles included
    (oracle: sketches.QSAMPLE_ORACLE_SQL, shared verbatim).

    At 100 TB: per-batch state is K rows regardless of arrival
    volume; the serving fold reads K x n_batches rows and compaction
    keeps n_batches bounded — the store never stores the value
    history."""
    from projet_etl_spark.streaming.quantiles import read_quantiles

    store = ensure_bottomk_store(spark, sf_dir)
    return read_quantiles(spark, store)


# --- near-dedup pairs store ------------------------------------------

NEARDEDUP_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "neardedup_pairs"
)


def _stage_doc_chunks(
    sf_dir: str, chunk_dir: str, columns: tuple[str, ...] = ("doc_id", "text")
) -> None:
    """Split documents into N_CHUNKS (doc_id-ordered row slices) so
    the file source delivers several micro-batches; the emitted pair
    UNION is chunking-invariant (each batch pairs its docs against
    the store plus itself), which is exactly the parity the oracle
    checks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=list(columns)
    )
    if table.num_rows:
        table = table.take(pc.sort_indices(table, sort_keys=[("doc_id", "ascending")]))
    os.makedirs(chunk_dir, exist_ok=True)
    n = table.num_rows
    for k in range(N_CHUNKS):
        lo, hi = k * n // N_CHUNKS, (k + 1) * n // N_CHUNKS
        pq.write_table(table.slice(lo, hi - lo), f"{chunk_dir}/chunk{k:02d}.parquet")


def ensure_neardedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming near-dedup pairs sink for
    ``sf_dir`` (fingerprint-keyed, same refresh-cost accounting as
    the daily-count store)."""
    from projet_etl_spark.streaming.neardedup import stream_near_dedup

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_doc_chunks(sf_dir, chunks)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )
        q = stream_near_dedup(
            stream,
            os.path.join(root, "store"),
            os.path.join(root, "pairs"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)

    return ensure_staged(
        NEARDEDUP_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "pairs",
        _build,
        version="neardedup-v1",
    )


def q_neardedup_pairs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs served from the sink the INCREMENTAL minhash-LSH
    stream maintains (per-micro-batch: new docs banded against the
    signature store, verified pairs appended idempotently). The union
    over batches must equal the one-shot batch q_dedup_minhash_lsh on
    the full corpus, so this query shares that query's ORACLE — a
    green driver row proves the incremental dedup path finds exactly
    the batch answer, end to end through real Structured Streaming.
    """
    from projet_etl_spark.streaming.neardedup import read_pairs

    pairs = ensure_neardedup_pairs(spark, sf_dir)
    return read_pairs(spark, pairs).orderBy("doc_a", "doc_b")


# --- SCD2 user-state-history store ------------------------------------

HISTORY_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "user_state_history")


def _stage_ordered_event_chunks(sf_dir: str, chunk_dir: str) -> None:
    """Event chunks for ORDER-SENSITIVE streams: same global
    (ts, event_id)-sorted row slices as _stage_event_chunks, plus
    strictly increasing mtimes so the file source triggers them in
    sequence — SCD2 drops cross-batch out-of-order events at the
    high-water mark (the documented CDC ordering contract), so the
    feed must deliver chunks in event order to equal the batch
    rebuild."""
    import time

    _stage_event_chunks(sf_dir, chunk_dir)
    base = time.time()
    for i, f in enumerate(sorted(os.listdir(chunk_dir))):
        os.utime(os.path.join(chunk_dir, f), (base + i, base + i))


def _ordered_stream_builder(spark: SparkSession, sf_dir: str, stream_fn):
    """ensure_staged build step shared by every order-sensitive
    event-stream store (SCD2 history, sessions, attribution): stage
    ordered event chunks, run ``stream_fn(stream)`` through
    availableNow micro-batches, land each batch idempotently under
    its batch partition."""
    from projet_etl_spark.streaming.neardedup import _write_batch_partition

    def _build(root: str) -> None:
        store = os.path.join(root, "store")
        chunks = os.path.join(root, "chunks")
        _stage_ordered_event_chunks(sf_dir, chunks)
        out = stream_fn(read_events_stream(spark, chunks, max_files_per_trigger=1))
        q = (
            out.writeStream.foreachBatch(
                lambda df, bid: _write_batch_partition(df, store, bid)
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, chunks)

    return _build


def ensure_user_state_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained SCD2 history store
    for ``sf_dir``: events flow through the real
    applyInPandasWithState path (streaming/history.py) in availableNow
    micro-batches; every emission lands idempotently under its batch
    partition. Fingerprint-keyed — build is refresh cost."""
    from projet_etl_spark.streaming.history import user_state_history_stream

    return ensure_staged(
        HISTORY_ROOT,
        sf_dir,
        _source_fingerprint(sf_dir),
        "store",
        _ordered_stream_builder(spark, sf_dir, user_state_history_stream),
        version="user-state-scd2-v1",
    )


def q_user_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 user-state history served from the store the
    applyInPandasWithState stream maintains — the stateful-operator
    twin of the three existing store-backed rows (counts, neardedup,
    postings). The stream emits closed versions once and re-emits the
    open version each touched batch; the serving fold is the upsert
    (per (user_id, version_no): from_us is fixed at open, max(to_us)
    keeps the closing timestamp if one exists, duplicates from
    replays collapse), after which the output must equal the batch
    window rebuild exactly — so this query SHARES
    user-state-history's oracle, making stateful-streaming parity a
    hard driver fact."""
    from projet_etl_spark.operators.events_windows import TS_FMT
    from projet_etl_spark.streaming.history import OUTPUT_SCHEMA
    from projet_etl_spark.streaming.storeio import read_store

    store = ensure_user_state_store(spark, sf_dir)
    # empty events -> the stream commits no rows and the store dir has
    # no footers; read_store serves the legitimately-empty frame while
    # still raising on a genuinely broken store
    rows = read_store(
        spark,
        store,
        OUTPUT_SCHEMA,
        ["user_id", "state", "version_no", "from_us", "to_us"],
    )
    folded = (
        rows.groupBy("user_id", "version_no")
        .agg(
            F.first("state").alias("state"),  # invariant per version
            F.min("from_us").alias("from_us"),  # fixed at version open
            F.max("to_us").alias("to_us"),  # null until closed
        )
    )
    return folded.select(
        "user_id",
        "state",
        F.col("version_no").cast("long").alias("version_no"),
        F.date_format(F.timestamp_micros("from_us"), TS_FMT).alias("valid_from"),
        F.date_format(F.timestamp_micros("to_us"), TS_FMT).alias("valid_to"),
        F.isnull("to_us").cast("long").alias("is_current"),
    ).orderBy("user_id", "version_no")


# --- BM25 over the streaming postings store --------------------------

POSTINGS_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "bm25_postings")


def _postings_builder(spark: SparkSession, sf_dir: str, *, compact: bool):
    """ensure_staged build step for the inverted-postings stores:
    stream documents into the index in availableNow micro-batches,
    then (compacted variant) fold the replay-committed batches into
    the token-bucketed layout."""
    from projet_etl_spark.streaming.postings import (
        compact_postings_store,
        stream_postings,
    )

    def _build(root: str) -> None:
        store = os.path.join(root, "store")
        chunks = os.path.join(root, "chunks")
        _stage_doc_chunks(sf_dir, chunks)
        q = stream_postings(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks),
            store,
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)
        if compact:
            compact_postings_store(spark, store)

    return _build


def ensure_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-written inverted-postings store
    for ``sf_dir`` (fingerprint-keyed on documents.parquet, same
    refresh-cost accounting as the other stores)."""
    return ensure_staged(
        POSTINGS_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "store",
        _postings_builder(spark, sf_dir, compact=False),
        version="postings-v1",
    )


COMPACTED_POSTINGS_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "bm25_postings_compacted"
)


def ensure_compacted_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) a postings store AND run the token-bucketed
    compaction over it — its own root, so ``bm25-store`` keeps
    serving the uncompacted layout (each query's cost stays
    independent of which ran first)."""
    return ensure_staged(
        COMPACTED_POSTINGS_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "store",
        _postings_builder(spark, sf_dir, compact=True),
        version="postings-compacted-v1",
    )


def q_bm25_store_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the COMPACTED incremental index: the
    replay-committed batches folded into token-bucket-partitioned
    files, so the term probe lists only the buckets the query terms
    hash into (file pruning, not just row pruning) plus the small
    uncovered live tail. Layout changes where postings live, never
    what they are — the query shares bm25-topk's oracle, so a green
    driver row proves the compacted layout serves the identical
    ranking (the orders-bucketed-join discipline, applied to the
    streaming index)."""
    from projet_etl_spark.streaming.postings import bm25_from_store

    store = ensure_compacted_postings_store(spark, sf_dir)
    return bm25_from_store(spark, store)


def q_bm25_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the incremental inverted index the
    postings stream maintains. Documents land in exactly one
    micro-batch, so the union of per-batch postings partials IS the
    full index; the scoring stage is literally the batch query's
    bm25_rank over a different postings source — and the query
    shares bm25-topk's ORACLE, so a green driver row proves
    incremental indexing serves the identical ranking end to end.
    """
    from projet_etl_spark.streaming.postings import bm25_from_store

    store = ensure_postings_store(spark, sf_dir)
    return bm25_from_store(spark, store)


# --- gap sessions from the stateful sessionization stream ------------

SESSIONS_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "user_sessions")


def ensure_sessions_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained session store for
    ``sf_dir``: events flow through the real applyInPandasWithState
    sessionization (streaming/sessions.py) in availableNow
    micro-batches delivered in event order (the SCD2 ordering
    contract); every emission lands idempotently under its batch
    partition. Fingerprint-keyed — build is refresh cost."""
    from projet_etl_spark.streaming.sessions import sessionize_stream

    return ensure_staged(
        SESSIONS_ROOT,
        sf_dir,
        _source_fingerprint(sf_dir),
        "store",
        _ordered_stream_builder(spark, sf_dir, sessionize_stream),
        version="sessions-v1",
    )


def q_sessions_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions served from the store the stateful
    sessionization stream maintains — the session twin of
    ``user-state-store``. The stream emits each closed session once
    (final) and re-emits the open session every batch its user
    appears in, so the serving fold is last-batch-wins per
    (user_id, session_no): ``max_by`` over the store's batch column
    picks the newest emission, whose aggregates are final. The
    folded store must equal the batch gaps-and-islands rebuild
    exactly, so this query SHARES events-session's oracle — a green
    driver row proves streaming sessionization converges to the
    batch answer end to end."""
    from projet_etl_spark.operators.events_windows import TS_FMT
    from projet_etl_spark.streaming.sessions import OUTPUT_SCHEMA
    from projet_etl_spark.streaming.storeio import read_store

    store = ensure_sessions_store(spark, sf_dir)
    rows = read_store(
        spark,
        store,
        OUTPUT_SCHEMA + ", batch long",
        ["user_id", "session_no", "start_us", "end_us",
         "n_events", "sum_value", "batch"],
    )
    latest = F.max_by(
        F.struct("start_us", "end_us", "n_events", "sum_value"), F.col("batch")
    ).alias("v")
    folded = rows.groupBy("user_id", "session_no").agg(latest)
    return folded.select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        F.date_format(F.timestamp_micros("v.start_us"), TS_FMT).alias(
            "session_start"
        ),
        F.date_format(F.timestamp_micros("v.end_us"), TS_FMT).alias(
            "session_end"
        ),
        F.col("v.n_events").cast("long").alias("n_events"),
        F.round(F.col("v.sum_value"), 6).alias("sum_value"),
    ).orderBy("user_id", "session_no")


# --- click->purchase attribution from the stream-stream join ----------

ATTRIB_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "attribution")


def ensure_attribution_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the attribution store: events flow through
    the real watermarked stream-stream interval join
    (streaming/joins.py) in availableNow micro-batches; each batch's
    matched (click, purchase) pairs land idempotently under the
    batch partition. An INNER interval join emits a pair exactly
    when its later side arrives — the watermark only bounds state
    retention, never emission — so the union of batch partials IS
    the full match set. Fingerprint-keyed; build is refresh cost."""
    from projet_etl_spark.streaming.joins import (
        click_purchase_attribution_stream,
    )

    return ensure_staged(
        ATTRIB_ROOT,
        sf_dir,
        _source_fingerprint(sf_dir),
        "store",
        _ordered_stream_builder(spark, sf_dir, click_purchase_attribution_stream),
        version="attribution-v1",
    )


def q_attribution_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution served from the stream-stream
    join's store — the fourth store-backed streaming kind next to
    counts/SCD2/sessions/postings. The fold keys on the natural
    (click_id, purchase_id) pair so a replayed batch's re-emissions
    collapse; the result must equal the batch interval join exactly,
    so this query SHARES events-click-attribution's oracle — a green
    driver row proves watermarked stream-stream state produces the
    identical match set end to end."""
    from projet_etl_spark.streaming.storeio import read_store

    store = ensure_attribution_store(spark, sf_dir)
    rows = read_store(
        spark,
        store,
        "user_id long, click_id long, purchase_id long, "
        "amount double, latency_us long",
        ["user_id", "click_id", "purchase_id", "amount", "latency_us"],
    )
    return (
        rows.groupBy("click_id", "purchase_id")
        .agg(
            F.first("user_id").alias("user_id"),
            F.first("amount").alias("amount"),
            F.first("latency_us").alias("latency_us"),
        )
        .select("user_id", "click_id", "purchase_id", "amount", "latency_us")
        .orderBy("click_id", "purchase_id")
    )


# --- streaming IVF index store (ANN served from maintained index) ------

IVF_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "ivf_assignment")


def _stage_vec_chunks(sf_dir: str, chunk_dir: str) -> None:
    """Split embeddings into N_CHUNKS vec_id-ordered row slices so
    the file source delivers several micro-batches; assignment is
    per-vector so chunking can't affect the folded index."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    if table.num_rows:
        table = table.take(
            pc.sort_indices(table, sort_keys=[("vec_id", "ascending")])
        )
    os.makedirs(chunk_dir, exist_ok=True)
    n = table.num_rows
    for k in range(N_CHUNKS):
        lo, hi = k * n // N_CHUNKS, (k + 1) * n // N_CHUNKS
        pq.write_table(table.slice(lo, hi - lo), f"{chunk_dir}/chunk{k:02d}.parquet")


def ensure_ivf_assignment(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained IVF coarse
    assignment for ``sf_dir``: fixed offline centroids, each
    micro-batch of vectors assigned with the batch build's own
    coarse_assign plan and appended under its batch partition.
    Fingerprint-keyed refresh cost."""
    from projet_etl_spark.streaming.ivf import (
        index_centroids,
        stream_ivf_assign,
    )

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_vec_chunks(sf_dir, chunks)
        cents = index_centroids(spark, sf_dir).localCheckpoint()
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )
        q = stream_ivf_assign(
            stream,
            cents,
            os.path.join(root, "store"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)

    return ensure_staged(
        IVF_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "embeddings.parquet"),
        "store",
        _build,
        version="ivf-assign-v1",
    )


def q_ann_ivf_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 served from the STREAMING-maintained index: the
    coarse assignment comes out of the micro-batch store (vectors
    assigned on arrival against fixed offline centroids) instead of
    being recomputed, then the shared serve stage probes and
    re-ranks exactly as the batch query — so this row certifies
    index-maintenance-vs-rebuild parity end to end (oracle: the
    batch IVF query's SQL, verbatim).

    At 100 TB: index maintenance touches each vector once at arrival
    (|batch| x |cells| against broadcast centroids); the serve stage
    reads the assignment store — never re-derives it — and joins
    vector payloads back by vec_id. Re-training centroids is the
    offline rebuild, not this path.
    """
    from projet_etl_spark.cache import eager_persist, lazy_persist
    from projet_etl_spark.operators.similarity import (
        _centroids,
        _emb_with_norm,
        ivf_topk_from_assignment,
    )
    from projet_etl_spark.streaming.ivf import read_assignment

    store = ensure_ivf_assignment(spark, sf_dir)
    base = _emb_with_norm(spark, sf_dir)
    cents = F.broadcast(lazy_persist(_centroids(base)))
    assigned = eager_persist(
        read_assignment(spark, store).join(
            base.select("vec_id", "v", "n2"), "vec_id"
        )
    )
    return ivf_topk_from_assignment(assigned, cents)


# --- DSIR statistics store (importance table from maintained counts) ----

DSIR_STATS_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "dsir_stats")


def ensure_dsir_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained DSIR bucket-count
    store for ``sf_dir`` — documents replayed as availableNow
    micro-batches, each landing its own (bucket, ct, cr) partial.
    Fingerprint-keyed refresh cost, like every other store."""
    from projet_etl_spark.streaming.dsirstats import stream_dsir_counts

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_doc_chunks(sf_dir, chunks, columns=("doc_id", "text", "source"))
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )
        q = stream_dsir_counts(
            stream,
            os.path.join(root, "store"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)

    return ensure_staged(
        DSIR_STATS_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "store",
        _build,
        version="dsir-stats-v1",
    )


def q_dsir_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance ranking served from the INCREMENTALLY
    maintained bucket statistics: the folded store counts feed the
    same smoothed-ratio table and the same scoring pass as the batch
    query (operators/dsir.py shared cores), so this query shares the
    batch DSIR oracle verbatim — a green driver row proves the
    stream-maintained corpus statistics reproduce the rescan's
    importance weights EXACTLY (partial counts are additive; the
    table arithmetic sees identical integers).

    At 100 TB: statistics maintenance touches each document once at
    arrival; the serve path folds a |batches| x DSIR_BUCKETS-row
    store and rescans nothing but the scoring pass itself — which
    any importance-weighted export pays anyway.
    """
    from projet_etl_spark.operators.dsir import (
        microlog_from_counts,
        score_with_table,
    )
    from projet_etl_spark.streaming.dsirstats import read_dsir_counts

    store = ensure_dsir_store(spark, sf_dir)
    # bounded: at most DSIR_BUCKETS rows by construction
    counts = read_dsir_counts(spark, store).collect()
    return score_with_table(spark, sf_dir, microlog_from_counts(counts))


# --- URL-frontier store (r12, r11 verdict item 4) -----------------------

FRONTIER_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "url_frontier")


def _frontier_builder(spark: SparkSession, sf_dir: str, compact: bool):
    """Builder closure for the frontier store: replay the documents
    fetch log as availableNow micro-batches; with ``compact``, fold
    the replay-committed partials afterwards (the bm25 compacted-twin
    pattern — layout changes, rows don't)."""
    from projet_etl_spark.streaming.frontier import (
        compact_frontier_store,
        stream_url_frontier,
    )

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_doc_chunks(sf_dir, chunks, columns=("doc_id",))
        stream = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )
        q = stream_url_frontier(
            stream,
            os.path.join(root, "store"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)
        if compact:
            compact_frontier_store(spark, os.path.join(root, "store"))

    return _build


def ensure_url_frontier_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained URL frontier for
    ``sf_dir``: the documents fetch log replayed as availableNow
    micro-batches through streaming/frontier.py's per-batch partial
    writes. Fingerprint-keyed refresh cost, like every other store;
    the version token folds the canonicalizer-relevant fixture
    constants so a crawl_url / PAGE_MOD change invalidates the staged
    store like a data change would."""
    from projet_etl_spark.functions.web import PAGE_MOD
    from projet_etl_spark.operators.domains import SNAPSHOTS

    return ensure_staged(
        FRONTIER_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "store",
        _frontier_builder(spark, sf_dir, compact=False),
        version=f"url-frontier-v1:pm={PAGE_MOD}:snaps={SNAPSHOTS}",
    )


COMPACTED_FRONTIER_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "url_frontier_compacted"
)


def ensure_compacted_url_frontier_store(spark: SparkSession, sf_dir: str) -> str:
    """Build a frontier store AND run the partial-merging compaction
    over it — its own root, so ``url-frontier-store`` keeps serving
    the uncompacted layout (each query's cost stays independent of
    which ran first)."""
    from projet_etl_spark.functions.web import PAGE_MOD
    from projet_etl_spark.operators.domains import SNAPSHOTS

    return ensure_staged(
        COMPACTED_FRONTIER_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "documents.parquet"),
        "store",
        _frontier_builder(spark, sf_dir, compact=True),
        version=f"url-frontier-compacted-v1:pm={PAGE_MOD}:snaps={SNAPSHOTS}",
    )


def q_url_frontier_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-first-fetch frontier served from the INCREMENTAL
    store the streaming path maintains — one row per canonical URL
    with its kept fetch, fetch count and snapshot spread. The fold
    over (url, snap) partials equals the batch export's one-shot
    aggregate exactly (min of mins, sum of counts, distinct snaps),
    so this query shares q_url_canonical_fetches' ORACLE verbatim —
    a green driver row proves the crawler's refetch table can be
    maintained incrementally without drifting from a rescan."""
    from projet_etl_spark.streaming.frontier import read_url_frontier

    store = ensure_url_frontier_store(spark, sf_dir)
    return read_url_frontier(spark, store).orderBy("url")


def q_url_frontier_store_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier served from the COMPACTED store: the
    replay-committed per-batch partials folded to one merged partial
    per (url, snap) under the reserved partition (r12 verdict item 3
    — the partial count stops growing with the batch count).
    Compaction merges partials with their own algebra (min of
    first_doc_ids, sum of counts), so the folded store must serve the
    identical frontier — the query shares q_url_canonical_fetches'
    ORACLE, and a green driver row proves fold-then-serve equals the
    batch rescan end to end."""
    from projet_etl_spark.streaming.frontier import read_url_frontier

    store = ensure_compacted_url_frontier_store(spark, sf_dir)
    return read_url_frontier(spark, store).orderBy("url")


# --- incremental embedding-dedup pairs store (r12) ----------------------

EMBDEDUP_ROOT = os.path.join(os.path.dirname(STORE_ROOT), "emb_dedup")


def _stage_planted_chunks(spark: SparkSession, sf_dir: str, chunk_dir: str) -> None:
    """Stage the planted corpus (operators/dedup.planted_embeddings)
    as N_CHUNKS vec_id-ordered parquet slices. Ordering by vec_id
    puts every ORIGINAL (ids < PLANT_OFFSET) in the early
    micro-batches and every planted twin (ids >= PLANT_OFFSET) in the
    late ones, so EVERY true pair crosses a batch boundary — the
    batch x STORE path is what finds them all, not the easy
    batch x batch join. Driver-side like the other chunk stagers
    (refresh-time fixture replay, bounded by the fixture size; at
    deployment the stream source is the real vector feed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projet_etl_spark.operators.dedup import planted_embeddings

    pdf = (
        planted_embeddings(spark, sf_dir)
        .orderBy("vec_id")
        .toPandas()
    )
    table = pa.table(
        {
            "vec_id": pa.array(pdf["vec_id"], type=pa.int64()),
            "v": pa.array(
                [list(x) for x in pdf["v"]], type=pa.list_(pa.float64())
            ),
        }
    )
    os.makedirs(chunk_dir, exist_ok=True)
    n = table.num_rows
    for k in range(N_CHUNKS):
        lo, hi = k * n // N_CHUNKS, (k + 1) * n // N_CHUNKS
        pq.write_table(table.slice(lo, hi - lo), f"{chunk_dir}/chunk{k:02d}.parquet")


def _embdedup_builder(spark: SparkSession, sf_dir: str, compact: bool):
    """Builder closure for the embedding-dedup sink: replay the
    planted corpus as availableNow micro-batches; with ``compact``,
    fold the replay-committed batches of all three tables afterwards
    (verbatim fold — rows are facts, layout is what changes)."""
    from projet_etl_spark.streaming.embdedup import (
        compact_emb_dedup_store,
        stream_emb_dedup,
    )

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        _stage_planted_chunks(spark, sf_dir, chunks)
        stream = (
            spark.readStream.schema("vec_id long, v array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(chunks)
        )
        q = stream_emb_dedup(
            stream,
            os.path.join(root, "store"),
            os.path.join(root, "pairs"),
            os.path.join(root, "ckpt"),
            available_now=True,
        )
        _drain(q, chunks)
        if compact:
            compact_emb_dedup_store(
                spark, os.path.join(root, "store"), os.path.join(root, "pairs")
            )

    return _build


def _embdedup_version(tag: str) -> str:
    """Version token folding every constant the pair set depends on
    (plant device incl. PLANT_OFFSET — r12 advisor low: the offset
    changes every emitted pair's vec_ids — hi-band geometry,
    threshold), so a geometry change invalidates the staged sink
    like a data change."""
    from projet_etl_spark.operators.dedup import (
        HI_COSINE_THRESHOLD,
        PLANT_EPS,
        PLANT_MOD,
        PLANT_OFFSET,
        RPHI_BAND_BITS,
        RPHI_BITS,
    )

    return (
        f"embdedup-{tag}:mod={PLANT_MOD}:off={PLANT_OFFSET}"
        f":eps={PLANT_EPS!r}"
        f":rphi={RPHI_BITS}x{RPHI_BAND_BITS}:cos={HI_COSINE_THRESHOLD}"
    )


def ensure_embdedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the incremental embedding-dedup pairs sink
    for ``sf_dir``: the planted corpus replayed as availableNow
    micro-batches through streaming/embdedup.py. Fingerprint-keyed
    refresh cost; see :func:`_embdedup_version` for the invalidation
    token."""
    return ensure_staged(
        EMBDEDUP_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "embeddings.parquet"),
        "pairs",
        _embdedup_builder(spark, sf_dir, compact=False),
        version=_embdedup_version("v1"),
    )


COMPACTED_EMBDEDUP_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "emb_dedup_compacted"
)


def ensure_compacted_embdedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build an embedding-dedup sink AND fold its per-batch tables
    (pairs, band index, vector store) through the verbatim
    compaction — its own root, so ``embedding-pairs-store`` keeps
    serving the uncompacted layout."""
    return ensure_staged(
        COMPACTED_EMBDEDUP_ROOT,
        sf_dir,
        parquet_fingerprint(sf_dir, "embeddings.parquet"),
        "pairs",
        _embdedup_builder(spark, sf_dir, compact=True),
        version=_embdedup_version("compacted-v1"),
    )


def q_embedding_pairs_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment-threshold near-dup pairs served from the sink the
    INCREMENTAL embedding-dedup stream maintains (per micro-batch:
    new vectors banded against the signature store, float64-fold
    verified). The union over batches must equal the one-shot batch
    q_dedup_embedding_lsh_hi on the full corpus, so this query shares
    that query's ORACLE — and because the replay is vec_id-ordered,
    every true (original, twin) pair spans batches: a green driver
    row proves the batch x STORE path finds exactly the rescan's
    answer, end to end through real Structured Streaming."""
    from projet_etl_spark.streaming.embdedup import read_emb_pairs

    pairs = ensure_embdedup_pairs(spark, sf_dir)
    return read_emb_pairs(spark, pairs).orderBy("vec_a", "vec_b")


def q_embedding_pairs_store_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hi pairs served from the COMPACTED incremental sink: the
    replay-committed batches of all three per-batch tables folded
    verbatim into the reserved partition (r12 verdict item 3 — the
    signature index's file/partition count stops growing with the
    batch count). The fold moves rows, never changes them, so this
    query shares the one-shot batch query's ORACLE — a green driver
    row proves fold-then-serve equals the rescan end to end."""
    from projet_etl_spark.streaming.embdedup import read_emb_pairs

    pairs = ensure_compacted_embdedup_pairs(spark, sf_dir)
    return read_emb_pairs(spark, pairs).orderBy("vec_a", "vec_b")
