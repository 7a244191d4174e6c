"""Read Spark's status stores for one job group.

The stores are filled by the listener bus even with
``spark.ui.enabled=false``: the core store holds jobs and per-stage
task metrics, the SQL store holds each SQL execution's plan metrics,
among them the Python-worker metrics of ``MapInPandas`` and the other
Arrow/pandas nodes. ``GroupStats`` is what one job group cost.
"""

from __future__ import annotations

import re
from dataclasses import asdict, dataclass

# SQL plan-metric name -> GroupStats field, for the Python-worker
# metrics of the Arrow/pandas exec nodes.
PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_JOB_IDS = re.compile(r"(\d+) -> ")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")
_METRIC_VALUE = re.compile(r"(?:\(|, )(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    sql_executions: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_start_s: float = 0.0
    py_run_s: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_returned: float = 0.0

    def as_dict(self) -> dict:
        return asdict(self)


def parse_metric(text: str) -> float:
    """Total of a rendered size or timing SQL metric, in bytes or
    seconds. Aggregated metrics render as ``total (min, med, max ...)``
    on the first line and the figures on the second; the total is the
    first figure of the last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class StatusReader:
    """Maps a job group to its jobs, stages, stage metrics and
    Python-node SQL metrics."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen = 0

    def group(self, group_id: str) -> GroupStats:
        # the stores are written by the asynchronous listener bus
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group_id))
        out = GroupStats(jobs=len(job_ids))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out.stages = len(stage_ids)
        for s in stage_ids:
            try:
                sd = self._store.lastStageAttempt(s)
            except Exception:  # py4j error wrapping NoSuchElementException
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out.tasks += sd.numTasks()
            out.failed_tasks += sd.numFailedTasks()
            out.executor_run_s += sd.executorRunTime() / 1e3
            out.executor_cpu_s += sd.executorCpuTime() / 1e9
            out.gc_s += sd.jvmGcTime() / 1e3
            out.input_bytes += sd.inputBytes()
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if job_ids:
            self._sql_stats(job_ids, out)
        return out

    def _sql_stats(self, job_ids: set, out: GroupStats) -> None:
        # Scala collections are read through one toString() each: a
        # py4j round trip per element would dominate the traced run
        count = self._sql.executionsCount()
        if count <= self._seen:
            return
        execs = self._sql.executionsList(self._seen, count - self._seen)
        for i in range(execs.size()):
            e = execs.apply(i)
            if not {int(j) for j in _JOB_IDS.findall(e.jobs().toString())} & job_ids:
                continue
            out.sql_executions += 1
            wanted = {
                int(acc): PY_METRICS[name]
                for name, acc in _PLAN_METRIC.findall(e.metrics().toString())
                if name in PY_METRICS
            }
            if not wanted:
                continue
            rendered = self._sql.executionMetrics(e.executionId()).toString()
            for acc, text in _METRIC_VALUE.findall(rendered):
                field = wanted.get(int(acc))
                if field is not None:
                    setattr(out, field, getattr(out, field) + parse_metric(text))

    def forget_before(self) -> None:
        """Skip every SQL execution recorded so far in later lookups
        (keeps each lookup proportional to one operation)."""
        self._seen = self._sql.executionsCount()
