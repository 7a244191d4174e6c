"""Run the benchmark over several seeds and report its steadiness.

    python3 perfbench/sweep.py --workloads api-mix,etl-refresh --seeds 1-10 --out FILE
    python3 perfbench/sweep.py --workloads api-mix --seeds 1-2 --trace 1 --out FILE

Run from the repository root; every run lasts BENCHMARK.json's
``run_seconds``. Untraced, it runs each seed once and reports, for each
workload and end-to-end metric, the median, the quartiles and their
distance as a share of the median (the spread BENCHMARK.json's bound is
checked against). Traced, it runs each seed traced twice and untraced
once: it checks that the per-layer job, stage and SQL-execution counts
repeat exactly, and reports the tracing overhead as the traced run's
end-to-end figures over the untraced run's. The report is printed and
written to ``--out``; the committed baseline is such reports.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ("_jobs", "_stages", "sql_executions")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["perfbench"]
    print(f"{workload} seed {seed} trace {trace}: correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']} wall={wall:.1f}s "
          + " ".join(f"{k}={v:.4g}" for k, v in record["end_to_end"].items()),
          file=sys.stderr, flush=True)
    return {
        "seed": seed, "correct": result["correct"], "failed": result["failed"],
        "attempted": result["attempted"], "wall_s": wall,
        "load_start": record["env"]["load_start"], "passes": record["passes"],
        "end_to_end": record["end_to_end"], "ops": record["ops"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def summarize(values: list[float], bound: float) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "bound": bound}


def untraced(wl: str, seeds: list[int], seconds: int, bounds: dict) -> dict:
    runs = [run_once(wl, seed, seconds, 0) for seed in seeds]
    metrics = {name: summarize([r["metrics"][name] for r in runs], bound) for name, bound in bounds.items()}
    for name, s in metrics.items():
        print(f"{wl:15s} {name:30s} median={s['median']:.4g} spread={s['spread']:.3f} "
              f"bound={s['bound']}", file=sys.stderr)
    return {"runs": runs, "metrics": metrics}


def traced(wl: str, seeds: list[int], seconds: int) -> dict:
    runs, mismatched, overhead = [], [], []
    for seed in seeds:
        pair = [run_once(wl, seed, seconds, 1) for _ in range(2)]
        base = run_once(wl, seed, seconds, 0)
        runs += pair + [base]
        counts = [{k: v for k, v in r["metrics"].items() if k.endswith(COUNTS)} for r in pair]
        if counts[0] != counts[1]:
            mismatched.append(seed)
        overhead.append({"seed": seed, **{
            k: pair[0]["end_to_end"][k] / v - 1 for k, v in base["end_to_end"].items()
        }})
    return {"runs": runs, "counts_repeat": not mismatched,
            "count_mismatch_seeds": mismatched, "tracing_overhead": overhead}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", required=True, help="an inclusive range, such as 1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report = {"run_seconds": seconds, "trace": args.trace, "workloads": {}}
    for wl in args.workloads.split(","):
        report["workloads"][wl] = (
            traced(wl, seeds, seconds) if args.trace else untraced(wl, seeds, seconds, bounds)
        )
    ok = all(r["correct"] for w in report["workloads"].values() for r in w["runs"])
    ok &= all(w.get("counts_repeat", True) for w in report["workloads"].values())
    report["ok"] = ok
    text = json.dumps(report, indent=1)
    print(text)
    with open(args.out, "w", encoding="utf-8") as f:
        f.write(text + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
