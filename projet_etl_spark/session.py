"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting here is chosen
to also be the right default on a large multi-executor cluster:

- AQE on (coalesce post-shuffle partitions, skew-join splitting,
  runtime broadcast conversion) so plans re-optimize at 100 TB.
- UTC session timezone so timestamp->date casts and window bucketing
  are deterministic and match the (timezone-naive) DuckDB oracle.
- Arrow enabled for any pandas-UDF path (vectorized transfer).
- shuffle.partitions sized from the env; on a real cluster this
  should be ~2-3x total cores (AQE coalesces the excess).
- a generated-class cache that holds every class the query table
  compiles, so a warm request recompiles nothing (see
  CODEGEN_CACHE_MAX_ENTRIES).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Let AQE rewrite a sort-merge join to a shuffled-hash join when the
# RUNTIME-measured size of every build-side partition fits this
# threshold — removes both sort passes exactly when a per-partition
# hash table is safe, at any scale (the decision reads measured
# shuffle stats, never estimates; upstream default 0 leaves the
# optimization off). The estimate-based
# spark.sql.join.preferSortMergeJoin stays at its default: estimates
# go wrong after filters.
SHJ_LOCAL_MAP_THRESHOLD = "64m"

# Entries of the JVM-wide cache of whole-stage generated classes
# (upstream default 100). One pass over the 226 registry queries
# compiles 2,740 distinct classes (sf0.01, 4 cores) and one pass of
# the 11 request types about 120, so at 100 the LRU evicts each class
# before its next use and every warm request recompiles (~8 ms per
# class). Holding a full registry pass costs about 30 MB of metaspace
# and 80 MB of heap. The cache keys on generated source, so a request
# whose literals differ still compiles its own classes.
CODEGEN_CACHE_MAX_ENTRIES = 4096


def get_spark(
    app_name: str = "projet-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_MAX_ENTRIES)
    )
    return ensure_engine_conf(builder.getOrCreate())


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine relies on: to its
    own session, and to a caller's session (e.g. one handed to
    ``__spark_entry__``) before every registry query.

    UTC matters for correctness parity: the parquet timestamps are
    midnight instants, and a non-UTC session would shift
    ``to_date`` / ``date_trunc`` results relative to the
    timezone-naive oracle. The SMJ->SHJ threshold makes a caller's
    session run the exact plans the bench times.

    The codegen cache size is a static conf, read once per JVM, so
    only ``get_spark`` sets it: a caller's session keeps its own
    cache size and may recompile classes a warm request could reuse.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        SHJ_LOCAL_MAP_THRESHOLD,
    )
    return spark
