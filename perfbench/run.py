"""Benchmark of the spark-graft engine: one workload, one seed.

    python3 perfbench/run.py --workload api-mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts and warms the engine and stages what the workload reads
(``setup_s`` is the time from process start to the first timed
operation), repeats the workload's seeded pass until ``--seconds`` have
elapsed, checks the answers against the registry's DuckDB oracles
outside the timed region, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see layers.py). The line before it records the environment, the
error rate and any failures. A traced run also writes its spans and
per-operation split to ``perfbench/out/``.

Workloads (see workloads.py): ``api-mix``, ``curation-batch``,
``etl-refresh``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
MAX_CPUS = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_env(work: str) -> dict:
    """Fix the engine's parallelism, scratch and clock settings before
    the JVM starts; return the environment record."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        "TZ": "UTC",
    })
    time.tzset()
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_used": cpus,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "load_start": [round(x, 2) for x in os.getloadavg()],
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(setup_s, passes, latencies, staged, source) -> dict:
    from layers import END_TO_END

    values = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(latencies),
        "op_p90_s": statistics.quantiles(latencies, n=10, method="inclusive")[8],
        "pass_s": statistics.median(passes),
        "staged_bytes_per_source_byte": staged / source,
    }
    return {name: {"value": values[name], "unit": unit} for name, unit, *_ in END_TO_END}


def per_layer(layers: dict) -> dict:
    from layers import PER_LAYER

    return {name: {"value": layers[name], "unit": unit} for name, unit, *_ in PER_LAYER}


def per_op(spans: list[dict]) -> list[dict]:
    """Each operation with its layer calls folded into build/exec."""
    from harness import CALLS

    ops = {s["id"]: {"op": s["name"], "s": s["end"] - s["start"]} for s in spans if s["parent"] is None}
    for s in spans:
        if s["parent"] not in ops:
            continue
        row = ops[s["parent"]]
        side = CALLS[s["name"]][1] or s["name"]
        row[f"{side}_s"] = row.get(f"{side}_s", 0.0) + s["end"] - s["start"]
        for k in ("jobs", "stages", "sql_executions"):
            if "stats" in s:
                row[f"{side}_{k}"] = row.get(f"{side}_{k}", 0) + s["stats"][k]
    return list(ops.values())


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("projet_etl_spark")
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: the engine's source is not under {ROOT}", file=sys.stderr)
        return 2
    from harness import Harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    env = pin_env(work)
    wl = WORKLOADS[args.workload](work, os.path.join(ROOT, "spark-warehouse"), args.seed)
    h = Harness(bool(args.trace), f"perfbench-{args.workload}")
    try:
        wl.drop_staged()
        wl.make_inputs()
        h.start_session()
        wl.stage(h)
        env["java"] = h.spark._jvm.System.getProperty("java.version")
        setup_s = time.perf_counter() - T_START
        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            h.fold = not passes
            t = time.perf_counter()
            wl.run_pass(h, len(passes))
            passes.append(time.perf_counter() - t)
        h.fold = False
        staged = wl.staged_bytes()
        h.layers["sources.staged_bytes"] = staged
        h.layers["session.jvm_rss_mb"] = h.jvm_rss_mb()
        wl.check(h)
    finally:
        h.stop_session()
        shutdown_jvm()
        wl.drop_staged()
        shutil.rmtree(work, ignore_errors=True)
    env["load_end"] = [round(x, 2) for x in os.getloadavg()]

    e2e = end_to_end(setup_s, passes, [s for _op, s in h.ops], staged, wl.source_bytes)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "passes": len(passes), "ops": [[op, s] for op, s in h.ops],
        "error_rate": len(h.failures) / h.attempted, "failures": h.failures,
        "wall_s": time.perf_counter() - T_START,
    }
    metrics = e2e
    if args.trace:
        metrics = per_layer(h.layers)
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(dict(record, end_to_end=e2e, per_layer=metrics,
                           per_op=per_op(h.spans), spans=h.spans), f, indent=1)
    for failure in h.failures:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps({"perfbench": dict(record, end_to_end={k: v["value"] for k, v in e2e.items()})}))
    print(json.dumps({
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
