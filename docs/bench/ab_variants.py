"""Generic interleaved A/B probe (r14, the committed form of the
session harness): time two query callables
alternating A B A B in ONE session (cross-session timings on this
host swing 2-3x), releasing tracked caches before every rep, noop
sink. Also value-compares A vs B output (sorted canonical rows).

Usage: python docs/bench/ab_variants.py <spec.py> [--reps 5] [--sf DIR]
where spec.py defines VARIANTS = {"name": callable(spark, sf_dir) -> DataFrame, ...}
(first = baseline). All variants are value-compared to the first.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import time

sys.path.insert(
    0,
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
)

from projet_etl_spark.cache import release_caches  # noqa: E402
from projet_etl_spark.session import get_spark  # noqa: E402


def canon(df):
    rows = df.collect()
    return sorted(tuple(r) for r in rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("spec")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-compare", action="store_true")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location("abspec", args.spec)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS

    spark = get_spark(app_name="r14-ab")
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf

    names = list(variants)
    # warmup
    from projet_etl_spark.plans.registry import queries

    queries()["cat"](spark, sf).collect()

    if not args.no_compare:
        base = canon(variants[names[0]](spark, sf))
        for n in names[1:]:
            release_caches(rollups=False)
            other = canon(variants[n](spark, sf))
            ok = other == base
            print(f"VALUE {n} vs {names[0]}: {'MATCH' if ok else 'MISMATCH'}", flush=True)
            if not ok:
                print(f"  base rows={len(base)} other rows={len(other)}")
                only_b = [r for r in base if r not in other][:3]
                only_o = [r for r in other if r not in base][:3]
                print(f"  only-base sample: {only_b}")
                print(f"  only-other sample: {only_o}")

    times: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps):
        for n in names:
            release_caches(rollups=False)
            spark.sparkContext.setJobDescription(f"ab:{n}:{rep}")
            t0 = time.perf_counter()
            variants[n](spark, sf).write.format("noop").mode("overwrite").save()
            times[n].append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
    for n in names:
        ts = sorted(times[n])
        med = ts[len(ts) // 2]
        print(
            f"{n}: min={ts[0]:.3f} med={med:.3f} all={[round(t,3) for t in times[n]]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
