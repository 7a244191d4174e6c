"""Per-query optimization probe (r13): time N noop-sink runs of the
named queries and dump .explain('formatted') to plans/r13/.

Usage:
    python docs/bench/profile_query.py <query> [<query> ...] \
        [--reps N] [--tag before|after] [--sf DIR] [--no-explain]

Timing methodology (guide §1.4): the timed action is
``df.write.format('noop').mode('overwrite').save()`` so every column
of every row is computed and discarded — no sink cost, no
column-pruning shortcut. Caches are released before every rep
(standalone/cold cost, same discipline as bench.py's cold loop).
Explain output goes to plans/r13/<query>_<tag>.txt so plan claims in
OPTIMIZATION_r13.md are checkable without running Spark.

Each rep runs under its own job group; each line reports every
rep's plan-build time and the py4j round trips the build made (the
commands the building thread sent through the gateway client), its
job and stage counts, read from Spark's status tracker, and the
generated classes the reps compiled with the time spent compiling
them, read from Spark's CodegenMetrics and CodeGenerator counters: the
build layer and the compile layer beside jobs and stages. A cache hit
compiles nothing, so the first rep usually pays them all.

This is a diagnostic harness only — the driver contract stays
bench.py.
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import threading
import time

sys.path.insert(
    0,
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
)

from projet_etl_spark.cache import release_caches  # noqa: E402
from projet_etl_spark.plans.registry import queries  # noqa: E402
from projet_etl_spark.session import get_spark  # noqa: E402

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default=None, help="explain dump suffix")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-explain", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="r13-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # warmup: JVM + codegen + parquet footer cache (not the probed query)
    warm = "cat" if "cat" in qs else next(iter(qs))
    qs[warm](spark, args.sf).collect()

    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_and_stages(group: str) -> tuple[int, int]:
        # the tracker is written by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(job_ids), len(stages)

    # py4j round trips of the building thread; py4j's finalizer thread
    # frees earlier proxies through the same client, so it is not counted
    client = sc._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    trips = [0]

    def counted(*a, **kw):
        if threading.get_ident() == caller:
            trips[0] += 1
        return send(*a, **kw)

    client.send_command = counted

    for i, name in enumerate(args.names):
        times, builds, build_trips, jobs, stages = [], [], [], [], []
        n0, ns0 = compiles.getCount(), codegen.compileTime()
        for rep in range(args.reps):
            release_caches(rollups=False)
            group = f"profile:{i}:{name}:{rep}"
            sc.setJobGroup(group, f"profile:{name}")
            gc.collect()
            trips[0] = 0
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            builds.append(time.perf_counter() - t0)
            build_trips.append(trips[0])
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            n_jobs, n_stages = jobs_and_stages(group)
            jobs.append(n_jobs)
            stages.append(n_stages)
        n_compiled = compiles.getCount() - n0
        compile_s = (codegen.compileTime() - ns0) / 1e9
        if args.tag and not args.no_explain:
            os.makedirs(PLANS_DIR, exist_ok=True)
            release_caches(rollups=False)
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        print(
            f"{name}: min={min(times):.3f}s  all={[round(t, 3) for t in times]}"
            f"  build_ms={[round(t * 1000, 1) for t in builds]} round_trips={build_trips}"
            f"  jobs={jobs} stages={stages}"
            f"  compiled={n_compiled} classes in {compile_s:.3f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
