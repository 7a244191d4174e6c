"""The benchmark's metrics: name, unit, which direction is better and,
for each per-layer metric, the end-to-end metric and workload it
should move (the prediction a perf change is checked against).
Regression bounds live in BENCHMARK.json.

Every workload reports the same end-to-end metrics; what an
*operation* and a *pass* are depends on the workload:

- api-mix: an operation is one request, from ``api.run_query``
  through ``api.to_records``; a pass sends each of the 11 types once.
- curation-batch: an operation is one registry query, built and
  collected after ``release_caches``; a pass is the whole list.
- etl-refresh: the operations are the CSV ingest and, per write
  mechanism, the rebuild of its staged layout plus one read of it;
  a pass is all of them.

Per-layer metrics are summed over the first timed pass of a traced
run, except the ``session.*`` figures and ``sources.staged_bytes``,
which describe the run's one set-up and the layouts on disk at the end.
"""

END_TO_END = (
    # (name, unit, better, meaning)
    ("setup_s", "s", "lower",
     "process start to the first timed operation: input generation, session start, "
     "warm-up and the staging the pass reads"),
    ("op_p50_s", "s", "lower", "median operation latency over the timed passes"),
    ("op_p90_s", "s", "lower", "90th-percentile operation latency over the timed passes"),
    ("pass_s", "s", "lower", "median wall time of one pass"),
    ("staged_bytes_per_source_byte", "ratio", "lower",
     "bytes of every layout staged for the workload's source, over the source parquet bytes"),
)

_SETUP = "setup_s, every workload"
_API = "op_p50_s, api-mix"
_BUILD = "pass_s, curation-batch (no change predicted on api-mix)"
_EXEC = "op_p90_s, api-mix; pass_s, curation-batch"
_CACHE = "pass_s, curation-batch"
_PY = "pass_s, curation-batch (reads 0 on api-mix)"
_INGEST = "op_p90_s and pass_s, etl-refresh"
_REFRESH = "pass_s, etl-refresh (no change predicted on the read workloads)"

PER_LAYER = (
    # (name, unit, better, moves)
    ("session.start_s", "s", "lower", _SETUP),
    ("session.warmup_s", "s", "lower", _SETUP),
    ("session.jvm_rss_mb", "MB", "lower", _SETUP),
    ("api.run_query_s", "s", "lower", _API),
    ("api.to_records_s", "s", "lower", _API),
    ("api.rows_returned", "count", "lower", _API),
    ("operators.build_s", "s", "lower", _BUILD),
    ("operators.build_jobs", "count", "lower", _BUILD),
    ("operators.build_stages", "count", "lower", _BUILD),
    ("operators.exec_s", "s", "lower", _EXEC),
    ("operators.exec_jobs", "count", "lower", _EXEC),
    ("operators.exec_stages", "count", "lower", _EXEC),
    ("operators.exec_tasks", "count", "lower", _EXEC),
    ("operators.sql_executions", "count", "lower", _EXEC),
    ("operators.executor_run_s", "s", "lower", _EXEC),
    ("operators.executor_cpu_s", "s", "lower", _EXEC),
    ("operators.gc_s", "s", "lower", _EXEC),
    ("operators.shuffle_read_bytes", "bytes", "lower", _EXEC),
    ("operators.shuffle_write_bytes", "bytes", "lower", _EXEC),
    ("operators.spill_bytes", "bytes", "lower", _EXEC),
    ("operators.failed_tasks", "count", "lower", _EXEC),
    ("cache.released", "count", "lower", _CACHE),
    ("cache.release_s", "s", "lower", _CACHE),
    ("cache.storage_mem_mb", "MB", "lower", _CACHE),
    ("functions.py_start_s", "s", "lower", _PY),
    ("functions.py_run_s", "s", "lower", _PY),
    ("functions.py_bytes_sent", "bytes", "lower", _PY),
    ("functions.py_bytes_returned", "bytes", "lower", _PY),
    ("sources.input_bytes", "bytes", "lower", _API),
    ("sources.ingest_s", "s", "lower", _INGEST),
    ("sources.ingest_rows_per_s", "rows/s", "higher", _INGEST),
    ("sources.ingest_output_bytes", "bytes", "lower", "pass_s, etl-refresh"),
    ("sources.stage_s", "s", "lower", "setup_s, api-mix and curation-batch; pass_s, etl-refresh"),
    ("sources.staged_bytes", "bytes", "lower", "staged_bytes_per_source_byte, every workload"),
    ("streaming.build_s", "s", "lower", _REFRESH),
    ("streaming.store_bytes", "bytes", "lower", "staged_bytes_per_source_byte, etl-refresh"),
    ("materialized.rollup_s", "s", "lower", _REFRESH),
    ("trace.status_read_s", "s", "lower", "nothing: the status-store reads of the traced run itself"),
)
