"""Session lifecycle, operation timing and the per-layer trace.

Every call the benchmark makes into the engine goes through
``Harness.call``: it runs under its own job group (in both modes, so
traced and untraced runs execute the same jobs), is timed, and — when
tracing — is recorded as a span whose status-store counts are folded
into the per-layer metrics of the pass being traced.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

from status import GroupStats, StatusReader

# the engine call a span wraps -> (per-layer time metric, operator side)
CALLS = {
    "api.run_query": ("api.run_query_s", "build"),
    "api.to_records": ("api.to_records_s", "exec"),
    "registry.build": (None, "build"),
    "dataframe.collect": (None, "exec"),
    "cache.release_caches": ("cache.release_s", None),
    "ingest.main": ("sources.ingest_s", None),
    "sources.stage": ("sources.stage_s", None),
    "streaming.ensure": ("streaming.build_s", None),
    "materialized.monthly_rollup": ("materialized.rollup_s", None),
}
# status-store counts summed over every operator call, build and exec
_OPERATOR_TOTALS = (
    "sql_executions", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
)
_PY = ("py_start_s", "py_run_s", "py_bytes_sent", "py_bytes_returned")


class OperationFailed(Exception):
    """An operation returned a wrong answer (counted in ``failed``)."""


class Harness:
    def __init__(self, trace: bool, app_name: str):
        self.trace = trace
        self.app_name = app_name
        self.spark = None
        self._reader: StatusReader | None = None
        self.layers: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self.ops: list[tuple[str, float]] = []  # (operation, latency)
        self.attempted = 0
        self.failures: list[str] = []
        self.fold = True  # whether calls add to the per-layer sums
        self._parent: int | None = None
        self._origin = time.perf_counter()

    # -- session -------------------------------------------------------
    def start_session(self) -> None:
        from projet_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name=self.app_name)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.spark.range(200_000).selectExpr("sum(id)", "count(distinct id % 97)").collect()
        self.layers["session.warmup_s"] = time.perf_counter() - t
        self._reader = StatusReader(self.spark) if self.trace else None

    def stop_session(self) -> None:
        from projet_etl_spark.cache import release_caches

        if self.spark is None:
            return
        release_caches()
        self.spark.stop()
        self.spark = None

    def jvm_rss_mb(self) -> float:
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def storage_mem_mb(self) -> float:
        """Executor storage memory in use (cached blocks)."""
        status = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.valuesIterator()
        used = 0
        while it.hasNext():
            v = it.next()
            used += v._1() - v._2()
        return used / 2**20

    # -- operations ----------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One timed operation. Its latency lands in ``ops``;
        an exception or ``OperationFailed`` inside it counts as a
        failed operation instead of ending the run."""
        span = self._open(name)
        self._parent = span["id"]
        t = time.perf_counter()
        try:
            yield span
        except Exception as e:  # the run goes on; the failure is counted
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            span["error"] = f"{type(e).__name__}: {e}"
        finally:
            self.ops.append((name, time.perf_counter() - t))
            self.attempted += 1
            self._parent = None
            self._close(span)

    def call(self, name: str, fn, *args, **kwargs):
        """Run one engine call under its own job group; trace it."""
        metric, side = CALLS[name]
        span = self._open(name)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{span['id']}", name)
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t
            sc.setJobGroup(f"pb-idle-{span['id']}", "")
            self._close(span)
            if self.fold and metric:
                self.layers[metric] += dt
            if self.fold and side:
                self.layers[f"operators.{side}_s"] += dt
            if self.trace:
                t = time.perf_counter()
                stats = self._reader.group(f"pb-{span['id']}")
                self._reader.forget_before()
                span["stats"] = stats.as_dict()
                self.layers["trace.status_read_s"] += time.perf_counter() - t
                if self.fold:
                    self._fold(stats, side)

    def check(self, ok: bool, what: str) -> None:
        """A correctness check made outside the timed region."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    # -- internals -----------------------------------------------------
    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._parent,
            "start": time.perf_counter() - self._origin,
        }
        self.spans.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self._origin

    def _fold(self, st: GroupStats, side: str | None) -> None:
        L = self.layers
        for f in _PY:
            L[f"functions.{f}"] += getattr(st, f)
        L["sources.input_bytes"] += st.input_bytes
        if side is None:
            return
        L[f"operators.{side}_jobs"] += st.jobs
        L[f"operators.{side}_stages"] += st.stages
        if side == "exec":
            L["operators.exec_tasks"] += st.tasks
        for f in _OPERATOR_TOTALS:
            L[f"operators.{f}"] += getattr(st, f)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
