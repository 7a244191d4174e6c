"""Query registry: name -> (Spark plan builder, DuckDB oracle SQL).

This is the engine's public query surface — the analogue of the
reference's QUERY_MAP dispatch dict (reference views.py:9-89,
113-137), with every entry lazily planned and oracle-checked.

``queries()`` / ``oracle_sql()`` feed ``__spark_entry__`` directly;
``api.run_query`` and the query CLI dispatch from ``REGISTRY``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from projet_etl_spark.session import ensure_engine_conf

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str
    tags: tuple[str, ...]


def _wrap(fn) -> QueryFn:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str, **params) -> DataFrame:
        ensure_engine_conf(spark)
        return fn(spark, sf_dir, **params)

    return run


# The driver's CORRECTNESS artifact records at most the FIRST 50
# entries of ``queries()``, keyed by name.  Rotating the dict order
# therefore costs nothing (every green row from a past round stays
# keyed by its name) but decides WHICH queries get a hard
# value-match row this round.
# Round-14 rotation, GENERATED by docs/bench/rotation.py over the
# EXPLICIT artifact-round set that existed at commit time
# (rotation.ROUNDS_AT_COMMIT = r01..r13; the committed tuple is a
# pure function of committed inputs, so the driver's r14 artifact
# landing after commit cannot invalidate it). The rule, in priority
# order: new queries (none — r14 is the second optimization round,
# the registry is frozen at 226); queries whose serve paths changed
# in the r14 optimization diff and must re-earn hard rows
# (supplier-pagerank, dedup-prefix-filter, the three fused-scan
# quality consumers, and the three Arrow-scorer corpus consumers —
# each already re-proved against its oracle at both SFs before
# commit, OPTIMIZATION_r14.md); the two reference-parity sentinels;
# then every remaining slot LEAST-RECENTLY-CHECKED first — the three
# r8-stale queries (top-unshipped-orders, user-state-store,
# vocab-coverage) enter at the first LRU slots, and nothing left
# unchecked is older than r9.
# tests/test_round10_ops.py pins this tuple ==
# rotation.generate(names, rounds=ROUNDS_AT_COMMIT), so hand edits
# can't rot and later artifacts can't invalidate it.
_DRIVER_PREFIX: tuple[str, ...] = (
    "supplier-pagerank",
    "dedup-prefix-filter",
    "quality-rules-vs-model",
    "filter-agreement-kappa",
    "quality-model-calibration",
    "corpus-quality-budget",
    "pipeline-training-export",
    "corpus-survivorship",
    "top-1",
    "avg-cat-fab-10-mag",
    "top-unshipped-orders",
    "user-state-store",
    "vocab-coverage",
    "ann-cosine-topk",
    "ann-ivf-store",
    "ann-ivf-topk",
    "ann-quantized-recall",
    "ann-quantized-topk",
    "daily-counts-store",
    "decontaminate-ngram",
    "dedup-canonical",
    "dedup-cluster-size-histogram",
    "dedup-embedding-cosine",
    "dedup-exact",
    "dedup-mass-by-lang",
    "dedup-simhash",
    "dedup-source-attribution",
    "dedup-threshold-sweep",
    "dsir-importance",
    "embedding-coverage-audit",
    "events-asof-click",
    "events-click-attribution",
    "events-session",
    "events-tumbling-1h",
    "events-value-bands",
    "multimodal-bytes",
    "multimodal-dedup",
    "multimodal-frame-sample",
    "nb-mag-cat-date-rollup",
    "pack-efficiency",
    "pack-sequences",
    "pipeline-clean-corpus",
    "pipeline-corpus-stats",
    "quality-filter-per-lang",
    "score-evolution-rollup",
    "split-leakage-audit",
    "text-bpe-token-count",
    "text-chunks",
    "text-fingerprint",
    "text-lang-id",
)


def _rotate(registry: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    head = [n for n in _DRIVER_PREFIX if n in registry]
    return {n: registry[n] for n in head} | {
        n: spec for n, spec in registry.items() if n not in set(head)
    }


def _build_registry() -> dict[str, QuerySpec]:
    # every query is declared once, in extensions.build() (parity,
    # dedup, similarity, text, windows, ...). Imported lazily for module-load
    # cost, but a failure is FATAL: a broken transitive import used to
    # silently shrink the registry from 203 to 13 parity queries — the
    # same broken-read-as-clean class the store readers and
    # table_exists were hardened against (r10, verdict item 4). A loud
    # failure here is caught by any test, sweep, or driver run;
    # a silent 13-query registry is caught by nothing.
    try:
        from projet_etl_spark.plans import extensions
    except ImportError as e:
        raise ImportError(
            "extension query surface failed to import — the registry "
            "would silently shrink to the 13 parity queries; fix the "
            f"extension import instead: {e}"
        ) from e
    registry = {
        name: QuerySpec(name=name, fn=_wrap(fn), oracle=sql, tags=tags)
        for name, fn, sql, tags in extensions.build()
    }
    return _rotate(registry)


REGISTRY: dict[str, QuerySpec] = _build_registry()


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items()}
