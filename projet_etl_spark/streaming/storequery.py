"""Batch queries over the streaming-maintained stores: the
driver-visible face of the streaming surface.

Every other streaming module is pinned by batch-parity pytest only
(a SQL oracle can't watch a stream run). This module closes that gap
for 14 registry queries, each served from its own store: daily
counts, the bottom-K sample, near-dup pairs, BM25 postings, SCD2
user state, gap sessions, click attribution, the IVF assignment,
DSIR statistics, the URL frontier and embedding-dedup pairs, plus
the ``compacted`` twins of the postings, frontier and
embedding-dedup layouts. Each query REBUILDS its
store through the real Structured Streaming path, then reads the
store back as a plain batch DataFrame, which a DuckDB oracle CAN
check: the folded store must equal the batch query over the same
source exactly. So a green CORRECTNESS row for a store query is hard
evidence that the incremental path computes the same answer as a
rescan — store→query parity, checked by the external driver, not
just pytest.

All stores are fed by one protocol, ``_replayed_store``: stage the
source as key-ordered chunks, replay them one chunk per availableNow
micro-batch through the store's foreachBatch body (storeio), delete
the chunks, optionally compact, all under the fingerprint-keyed
``ensure_staged``. A store differs from another only in its feed,
its body and its compact step.

Scale design (100 TB): a stream touches each input row once and lands
a bounded partial (or its own rows) per micro-batch; the batch read
folds the partials, never the history. Store build is REFRESH cost:
it runs once per source fingerprint (size+mtime marker) and builder
version and is reused until either changes, so the measured query
cost is the fold+read, same accounting as the materialized monthly
rollup.

Reference: the reference app has no streaming or incremental
maintenance (SURVEY.md §2.11 — none); this is a beyond-reference
training-pipeline capability.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import partial
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_etl_spark.sources.staging import ensure_staged, parquet_fingerprint
from projet_etl_spark.streaming import storeio
from projet_etl_spark.streaming.dailycounts import (
    read_daily_counts,
    upsert_daily_counts_batch,
)
from projet_etl_spark.streaming.windows import read_events_stream

if TYPE_CHECKING:
    import pyarrow as pa

# streaming stores live beside the Spark warehouse dir (gitignored,
# inside the repo sandbox)
STORE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
    "stores",
    "daily_counts",
)


class _Feed(NamedTuple):
    """What a store replays. ``source`` names the fixture parquet
    whose fingerprint keys the store; ``rows()`` is the Arrow table
    staged from it, replayed in ``keys`` order; ``stream(chunks)``
    reads the staged chunks back one file per trigger."""

    source: str
    keys: tuple[str, ...]
    rows: Callable[[], pa.Table]
    stream: Callable[[str], DataFrame]


def _read_source(
    sf_dir: str, source: str, columns: list[str] | None = None
) -> pa.Table:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, source), columns=columns)


def _event_feed(
    spark: SparkSession,
    sf_dir: str,
    shape: Callable[[DataFrame], DataFrame] = lambda ev: ev,
) -> _Feed:
    """The events table in (ts, event_id) order, read back through
    read_events_stream (either fixture ts vintage) and then
    ``shape``: a projection or a stateful streaming plan."""
    return _Feed(
        "events.parquet",
        ("ts", "event_id"),
        lambda: _read_source(sf_dir, "events.parquet"),
        lambda chunks: shape(
            read_events_stream(spark, chunks, max_files_per_trigger=1)
        ),
    )


def _file_feed(
    spark: SparkSession,
    sf_dir: str,
    source: str,
    schema: str,
    rows: Callable[[], pa.Table] | None = None,
) -> _Feed:
    """The columns named by the DDL ``schema`` of ``source`` (or
    ``rows()`` when the staged table is derived), replayed in the
    order of the first column, a unique id (doc_id, vec_id)."""
    cols = [f.split()[0] for f in schema.split(",")]
    return _Feed(
        source,
        (cols[0],),
        rows or (lambda: _read_source(sf_dir, source, cols)),
        lambda chunks: spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks),
    )


def _bound(body: Callable, **paths: str) -> Callable[[str], Callable]:
    """``body`` with each keyword bound to that name under the store
    root: ``_bound(f, store_path="store")(root)`` is
    ``partial(f, store_path=<root>/store)``."""
    return lambda root: partial(
        body, **{k: os.path.join(root, v) for k, v in paths.items()}
    )


def _replayed_store(
    root_base: str,
    sf_dir: str,
    feed: _Feed,
    *,
    version: str,
    body: Callable[[str], Callable[[DataFrame, int], None]],
    out: str = "store",
    compact: Callable[[str], object] | None = None,
) -> str:
    """Build (or reuse) one replayed store; return ``<root>/<out>``.

    Under ensure_staged (so it rebuilds only when the source
    fingerprint or ``version`` moves): stage ``feed`` as key-ordered
    chunks, replay them one chunk per availableNow micro-batch
    through ``body(root)``, delete the chunks, then run
    ``compact(root)`` if given. ``body`` is bound after staging, so
    a body that needs Spark state (the IVF centroids) computes it
    only on a rebuild."""

    def _build(root: str) -> None:
        chunks = os.path.join(root, "chunks")
        storeio.stage_chunks(feed.rows(), feed.keys, chunks)
        storeio.replay(
            feed.stream(chunks), body(root), os.path.join(root, "ckpt")
        ).awaitTermination()
        # the stream is the chunks' only reader (stores, compactions
        # and serving reads never open them, and a rebuild restages
        # them from the source), so a kept copy only doubles the
        # staged bytes
        shutil.rmtree(chunks)
        if compact is not None:
            compact(root)

    return ensure_staged(
        root_base,
        sf_dir,
        parquet_fingerprint(sf_dir, feed.source),
        out,
        _build,
        version=version,
    )


def ensure_daily_counts_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-written daily-count store for
    ``sf_dir``. The store is keyed by the events file's fingerprint
    (the shared ensure_staged protocol): a regenerated fixture
    invalidates it, repeat queries reuse it — build is refresh cost,
    not query cost."""
    return _replayed_store(
        STORE_ROOT,
        sf_dir,
        _event_feed(spark, sf_dir),
        version="daily-counts-v1",
        body=_bound(upsert_daily_counts_batch, store_path="store"),
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
        upsert_bottomk_batch,
    )

    return _replayed_store(
        BOTTOMK_ROOT,
        sf_dir,
        _event_feed(spark, sf_dir, lambda ev: ev.select("event_id", "value")),
        version="bottomk-v1",
        body=_bound(upsert_bottomk_batch, store_path="store"),
        compact=lambda root: compact_sample_store(spark, os.path.join(root, "store")),
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


def ensure_neardedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming near-dedup pairs sink for
    ``sf_dir`` (fingerprint-keyed, same refresh-cost accounting as
    the daily-count store). Each batch pairs its docs against the
    store plus itself, so the emitted pair UNION is
    chunking-invariant, which is exactly the parity the oracle
    checks."""
    from projet_etl_spark.streaming.neardedup import near_dedup_batch

    return _replayed_store(
        NEARDEDUP_ROOT,
        sf_dir,
        _file_feed(spark, sf_dir, "documents.parquet", "doc_id long, text string"),
        version="neardedup-v1",
        body=_bound(near_dedup_batch, store_path="store", pairs_path="pairs"),
        out="pairs",
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


def ensure_user_state_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained SCD2 history store
    for ``sf_dir``: events flow through the real
    applyInPandasWithState path (streaming/history.py) in availableNow
    micro-batches delivered in event order — SCD2 drops cross-batch
    out-of-order events at the high-water mark (the documented CDC
    ordering contract), so only an ordered feed equals the batch
    rebuild; every emission lands idempotently under its batch
    partition. Fingerprint-keyed — build is refresh cost."""
    from projet_etl_spark.streaming.history import user_state_history_stream

    return _replayed_store(
        HISTORY_ROOT,
        sf_dir,
        _event_feed(spark, sf_dir, user_state_history_stream),
        version="user-state-scd2-v1",
        body=_bound(storeio.write_batch_partition, path="store"),
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

    store = ensure_user_state_store(spark, sf_dir)
    # empty events -> the stream commits no rows and the store dir has
    # no footers; read_store serves the legitimately-empty frame while
    # still raising on a genuinely broken store
    rows = storeio.read_store(
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


def ensure_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-written inverted-postings store
    for ``sf_dir`` (fingerprint-keyed on documents.parquet, same
    refresh-cost accounting as the other stores)."""
    from projet_etl_spark.streaming.postings import upsert_postings_batch

    return _replayed_store(
        POSTINGS_ROOT,
        sf_dir,
        _file_feed(spark, sf_dir, "documents.parquet", "doc_id long, text string"),
        version="postings-v1",
        body=_bound(upsert_postings_batch, store_path="store"),
    )


COMPACTED_POSTINGS_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "bm25_postings_compacted"
)


def ensure_compacted_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) a postings store AND run the token-bucketed
    compaction over it — its own root, so ``bm25-store`` keeps
    serving the uncompacted layout (each query's cost stays
    independent of which ran first)."""
    from projet_etl_spark.streaming.postings import (
        compact_postings_store,
        upsert_postings_batch,
    )

    return _replayed_store(
        COMPACTED_POSTINGS_ROOT,
        sf_dir,
        _file_feed(spark, sf_dir, "documents.parquet", "doc_id long, text string"),
        version="postings-compacted-v1",
        body=_bound(upsert_postings_batch, store_path="store"),
        compact=lambda root: compact_postings_store(spark, os.path.join(root, "store")),
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

    return _replayed_store(
        SESSIONS_ROOT,
        sf_dir,
        _event_feed(spark, sf_dir, sessionize_stream),
        version="sessions-v1",
        body=_bound(storeio.write_batch_partition, path="store"),
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

    store = ensure_sessions_store(spark, sf_dir)
    rows = storeio.read_store(
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

    return _replayed_store(
        ATTRIB_ROOT,
        sf_dir,
        _event_feed(spark, sf_dir, click_purchase_attribution_stream),
        version="attribution-v1",
        body=_bound(storeio.write_batch_partition, path="store"),
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
    store = ensure_attribution_store(spark, sf_dir)
    rows = storeio.read_store(
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


def ensure_ivf_assignment(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the streaming-maintained IVF coarse
    assignment for ``sf_dir``: fixed offline centroids, each
    micro-batch of vectors assigned with the batch build's own
    coarse_assign plan and appended under its batch partition
    (assignment is per vector, so chunking can't affect the folded
    index). Fingerprint-keyed refresh cost."""
    from projet_etl_spark.streaming.ivf import (
        index_centroids,
        upsert_assignment_batch,
    )

    return _replayed_store(
        IVF_ROOT,
        sf_dir,
        _file_feed(
            spark, sf_dir, "embeddings.parquet", "vec_id long, embedding array<float>"
        ),
        version="ivf-assign-v1",
        body=lambda root: partial(
            upsert_assignment_batch,
            store_path=os.path.join(root, "store"),
            cents=index_centroids(spark, sf_dir).localCheckpoint(),
        ),
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
    from projet_etl_spark.streaming.dsirstats import upsert_dsir_batch

    return _replayed_store(
        DSIR_STATS_ROOT,
        sf_dir,
        _file_feed(
            spark,
            sf_dir,
            "documents.parquet",
            "doc_id long, text string, source string",
        ),
        version="dsir-stats-v1",
        body=_bound(upsert_dsir_batch, store_path="store"),
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
    from projet_etl_spark.streaming.frontier import upsert_frontier_batch

    return _replayed_store(
        FRONTIER_ROOT,
        sf_dir,
        _file_feed(spark, sf_dir, "documents.parquet", "doc_id long"),
        version=f"url-frontier-v1:pm={PAGE_MOD}:snaps={SNAPSHOTS}",
        body=_bound(upsert_frontier_batch, store_path="store"),
    )


COMPACTED_FRONTIER_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "url_frontier_compacted"
)


def ensure_compacted_url_frontier_store(spark: SparkSession, sf_dir: str) -> str:
    """Build a frontier store AND run the partial-merging compaction
    over it — its own root, so ``url-frontier-store`` keeps serving
    the uncompacted layout (each query's cost stays independent of
    which ran first). The compaction merges partials with their own
    algebra, so rows change and the fold does not (the bm25
    compacted-twin pattern)."""
    from projet_etl_spark.functions.web import PAGE_MOD
    from projet_etl_spark.operators.domains import SNAPSHOTS
    from projet_etl_spark.streaming.frontier import (
        compact_frontier_store,
        upsert_frontier_batch,
    )

    return _replayed_store(
        COMPACTED_FRONTIER_ROOT,
        sf_dir,
        _file_feed(spark, sf_dir, "documents.parquet", "doc_id long"),
        version=f"url-frontier-compacted-v1:pm={PAGE_MOD}:snaps={SNAPSHOTS}",
        body=_bound(upsert_frontier_batch, store_path="store"),
        compact=lambda root: compact_frontier_store(spark, os.path.join(root, "store")),
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


def _planted_feed(spark: SparkSession, sf_dir: str) -> _Feed:
    """The planted corpus (operators/dedup.planted_embeddings),
    keyed by the embeddings file. Replayed in vec_id order, it puts
    every ORIGINAL (ids < PLANT_OFFSET) in the early micro-batches
    and every planted twin (ids >= PLANT_OFFSET) in the late ones, so
    EVERY true pair crosses a batch boundary — the batch x STORE path
    is what finds them all, not the easy batch x batch join.
    Collected to the driver like the other staged feeds
    (refresh-time fixture replay, bounded by the fixture size; at
    deployment the stream source is the real vector feed)."""
    from projet_etl_spark.operators.dedup import planted_embeddings

    return _file_feed(
        spark,
        sf_dir,
        "embeddings.parquet",
        "vec_id long, v array<double>",
        rows=lambda: planted_embeddings(spark, sf_dir).toArrow(),
    )


def ensure_embdedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the incremental embedding-dedup pairs sink
    for ``sf_dir``: the planted corpus replayed as availableNow
    micro-batches through streaming/embdedup.py. Fingerprint-keyed
    refresh cost; see :func:`_embdedup_version` for the invalidation
    token."""
    from projet_etl_spark.streaming.embdedup import emb_dedup_batch

    return _replayed_store(
        EMBDEDUP_ROOT,
        sf_dir,
        _planted_feed(spark, sf_dir),
        version=_embdedup_version("v1"),
        body=_bound(emb_dedup_batch, store_path="store", pairs_path="pairs"),
        out="pairs",
    )


COMPACTED_EMBDEDUP_ROOT = os.path.join(
    os.path.dirname(STORE_ROOT), "emb_dedup_compacted"
)


def ensure_compacted_embdedup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Build an embedding-dedup sink AND fold its per-batch tables
    (pairs, band index, vector store) through the verbatim
    compaction — its own root, so ``embedding-pairs-store`` keeps
    serving the uncompacted layout. Rows are facts, so the fold
    changes the layout, never the pairs."""
    from projet_etl_spark.streaming.embdedup import (
        compact_emb_dedup_store,
        emb_dedup_batch,
    )

    return _replayed_store(
        COMPACTED_EMBDEDUP_ROOT,
        sf_dir,
        _planted_feed(spark, sf_dir),
        version=_embdedup_version("compacted-v1"),
        body=_bound(emb_dedup_batch, store_path="store", pairs_path="pairs"),
        out="pairs",
        compact=lambda root: compact_emb_dedup_store(
            spark, os.path.join(root, "store"), os.path.join(root, "pairs")
        ),
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
