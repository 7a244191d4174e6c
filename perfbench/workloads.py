"""The three workloads: inputs, set-up, one timed pass, and the
correctness gate each runs outside the timed region.

A workload's *pass* is a list of operations; the timed region repeats
passes until the run's time is up, and the per-layer metrics are
summed over the first pass only, so a given seed counts the same
operations. The seed draws the data and, on api-mix, the request order
and parameters. The batch workloads keep a fixed order: the first
operation pays the JVM's remaining warm-up, and a seeded order moved
the median query latency by 26-72% (quartile spread over five seeds).

Inputs are generated from the seed (gen.py) with the bench fixture's
schema. The sizes are scaled down from the 600k-lineitem fixture so
that one run, set-up and check included, stays under a minute; the
operations are dominated by per-job overhead at either size.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys

import gen
import oracle
from harness import Harness, OperationFailed, dir_bytes

API_SCALE = 0.1  # 60k lineitem rows
CURATION_SCALE = 0.25  # 1,250 documents, 500 embeddings
REFRESH_SCALE = 0.1  # 60k lineitem rows, 10k events
REFRESH_CSV_ROWS = 20_000  # per reference CSV


def touch_sources(sf_dir: str) -> None:
    """Give every source file a new mtime, so every fingerprint-keyed
    staged layout built from it is rebuilt on its next use."""
    for name in os.listdir(sf_dir):
        path = os.path.join(sf_dir, name)
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def staged_roots(warehouse: str, basename: str) -> list[str]:
    """Every staged root the engine keyed by ``basename`` under its
    warehouse directory (``ensure_staged`` names roots after the
    source directory's basename)."""
    out = []
    for root, dirs, _files in os.walk(warehouse):
        if basename in dirs:
            out.append(os.path.join(root, basename))
            dirs.remove(basename)
    return sorted(out)


class Workload:
    name = ""
    scale = 0.0

    def __init__(self, work: str, warehouse: str, seed: int):
        self.seed = seed
        self.warehouse = warehouse
        # the basename keys this workload's staged roots; no other
        # workload and no other harness uses it
        self.sf_dir = os.path.join(work, f"perfbench-{self.name}")
        self.rng = random.Random(seed)

    def make_inputs(self) -> None:
        gen.write_warehouse(self.sf_dir, self.seed, self.scale)
        self.source_bytes = dir_bytes(self.sf_dir)

    def staged_bytes(self) -> int:
        return sum(dir_bytes(r) for r in staged_roots(self.warehouse, os.path.basename(self.sf_dir)))

    def drop_staged(self) -> None:
        for r in staged_roots(self.warehouse, os.path.basename(self.sf_dir)):
            shutil.rmtree(r, ignore_errors=True)

    def stage(self, h: Harness) -> None:
        """Build what the timed region reads (part of set-up)."""

    def run_pass(self, h: Harness, index: int) -> None:
        raise NotImplementedError

    def check(self, h: Harness) -> None:
        raise NotImplementedError


# -- api-mix ---------------------------------------------------------------
API_TYPES = (
    "cat", "mag-cat", "fab-cat", "avg-prod-per-fab", "top-magasins",
    "top-magasins-cat", "nb-mag-cat-date", "score-evolution", "top-1",
    "avg-cat-fab-10-mag", "score-sante-touts-les-mois",
)


class ApiMix(Workload):
    """A closed loop of one client sending reference-style requests.
    A pass sends every request type once, in a seeded order, with
    parameters drawn from the generated data's domains."""

    name = "api-mix"
    scale = API_SCALE

    def make_inputs(self) -> None:
        super().make_inputs()
        self.n_supp = max(100, int(1_000 * self.scale))
        self.schemas: dict[str, set] = {}

    def _requests(self) -> list[tuple[str, dict]]:
        types = list(API_TYPES)
        self.rng.shuffle(types)
        out = []
        for t in types:
            y0 = self.rng.randint(1995, 2000)
            m0 = self.rng.randint(1, 12)
            y1, m1 = divmod((y0 * 12 + m0 - 1) + self.rng.randint(1, 24), 12)
            out.append((t, {
                "catID": f"Brand#{self.rng.randint(1, gen.N_BRANDS)}",
                "fabID": self.rng.randrange(self.n_supp),
                "debut": f"{y0}-{m0:02d}-01",
                "fin": _month_end(y1, m1 + 1) if y1 < 2002 else "2001-12-31",
                "annee": self.rng.randint(1995, 2001),
            }))
        return out

    def stage(self, h: Harness) -> None:
        from projet_etl_spark import api
        from projet_etl_spark.sources import tables

        def views():
            tables.points_de_vente(h.spark, self.sf_dir)
            tables.produits(h.spark, self.sf_dir)

        h.call("sources.stage", views)
        # a long-lived service is warm: every type runs once at its
        # default parameters, and these answers are the ones the
        # oracle check compares after the timed region
        self.defaults = {}
        for t in API_TYPES:
            df = api.run_query(h.spark, self.sf_dir, t)
            self.defaults[t] = (df.schema.simpleString(), df.columns, api.to_records(df))

    def run_pass(self, h: Harness, index: int) -> None:
        from projet_etl_spark import api

        for t, params in self._requests():
            with h.op(f"api:{t}"):
                df = h.call("api.run_query", api.run_query, h.spark, self.sf_dir, t, **params)
                rows = h.call("api.to_records", api.to_records, df)
                self.schemas.setdefault(t, set()).add(df.schema.simpleString())
                if h.fold:
                    h.layers["api.rows_returned"] += len(rows)

    def check(self, h: Harness) -> None:
        con = oracle.connect(self.sf_dir)
        for t in API_TYPES:
            schema, cols, rows = self.defaults[t]
            h.check(oracle.matches(con, t, cols, rows), f"{t}: oracle mismatch")
            seen = self.schemas.get(t, set()) - {schema}
            h.check(not seen, f"{t}: seeded request schema {seen} differs from the default run")
        con.close()


def _month_end(year: int, month: int) -> str:
    import datetime

    first_of_next = datetime.date(year + month // 12, month % 12 + 1, 1)
    return str(first_of_next - datetime.timedelta(days=1))


# -- curation-batch ----------------------------------------------------------
# Left out for run length (built and collected cold, 1,250 documents,
# 4 cores): dedup-clusters 12.1 s, pipeline-clean-corpus 12.6 s,
# dedup-minhash-lsh 7.9 s, semantic-clusters 7.0 s, supplier-pagerank 4.4 s.
CURATION = (
    # build-heavy: 2.7-3.4 s of jobs before the builder returns its DataFrame
    "bpe-learn-merges", "dedup-prefix-filter",
    # served from the JSONL dump staged at set-up
    "documents-jsonl-scan",
    # kernel-heavy: Arrow/pandas kernels and JVM string work
    "dedup-exact", "dedup-simhash", "quality-rules-vs-model",
    "corpus-quality-budget", "text-quality", "text-quality-model",
)


class CurationBatch(Workload):
    """Training-data pipeline queries, each from cold operator caches."""

    name = "curation-batch"
    scale = CURATION_SCALE

    def make_inputs(self) -> None:
        super().make_inputs()
        self.results: dict[str, tuple] = {}

    def stage(self, h: Harness) -> None:
        from projet_etl_spark.sources import jsonl

        h.call("sources.stage", jsonl.ensure_documents_jsonl, h.spark, self.sf_dir)

    def run_pass(self, h: Harness, index: int) -> None:
        from projet_etl_spark.cache import release_caches
        from projet_etl_spark.plans.registry import queries

        qs = queries()
        for name in CURATION:
            if h.fold:
                h.layers["cache.storage_mem_mb"] = max(
                    h.layers["cache.storage_mem_mb"], h.storage_mem_mb()
                )
            released = h.call("cache.release_caches", release_caches, rollups=False)
            if h.fold:
                h.layers["cache.released"] += released
            with h.op(f"query:{name}"):
                df = h.call("registry.build", qs[name], h.spark, self.sf_dir)
                rows = h.call("dataframe.collect", df.collect)
                if index == 0:
                    self.results[name] = (df.columns, rows)

    def check(self, h: Harness) -> None:
        con = oracle.connect(self.sf_dir)
        for name in CURATION:
            if name not in self.results:  # its failure is already counted
                continue
            cols, rows = self.results[name]
            h.check(oracle.matches(con, name, cols, rows), f"{name}: oracle mismatch")
        con.close()


# -- etl-refresh -------------------------------------------------------------
# Left out for run length (rebuild plus one read, 60k lineitem rows,
# 4 cores): the stateful sessions store 6.5-8.6 s, the compacted
# url-frontier store 4.7-5.8 s and the z-order layout 2.9-4.1 s.
REFRESH_READS = ("daily-counts-store", "top-magasins", "top-magasins-rollup")


class EtlRefresh(Workload):
    """Ingest reference CSVs, then rebuild one staged layout per write
    mechanism from a freshly fingerprinted warehouse and read it: the
    operations are the ingest and one refresh per mechanism."""

    name = "etl-refresh"
    scale = REFRESH_SCALE

    def make_inputs(self) -> None:
        super().make_inputs()
        work = os.path.dirname(self.sf_dir)
        self.csv_dir = os.path.join(work, "csv")
        self.native_dir = os.path.join(work, "native")
        self.expected = gen.write_reference_csvs(self.csv_dir, self.seed, REFRESH_CSV_ROWS)
        self.results: dict[str, tuple] = {}

    def run_pass(self, h: Harness, index: int) -> None:
        from projet_etl_spark import ingest
        from projet_etl_spark.cache import release_caches
        from projet_etl_spark.operators import materialized
        from projet_etl_spark.plans.registry import queries
        from projet_etl_spark.sources import tables
        from projet_etl_spark.streaming import storequery

        spark, sf = h.spark, self.sf_dir
        if index:
            touch_sources(sf)
        h.call("cache.release_caches", release_caches)
        with h.op("ingest"):
            with contextlib.redirect_stdout(sys.stderr):
                rc = h.call("ingest.main", ingest.main, [self.csv_dir, self.native_dir], spark=spark)
            if rc != 0:
                raise OperationFailed(f"ingest exited {rc}")
        if h.fold:
            h.layers["sources.ingest_output_bytes"] += dir_bytes(self.native_dir)
            rows = sum(t["rows"] for t in self.expected.values())
            h.layers["sources.ingest_rows_per_s"] = rows / h.layers["sources.ingest_s"]
        qs = queries()

        def read(name):
            df = h.call("registry.build", qs[name], spark, sf)
            rows = h.call("dataframe.collect", df.collect)
            if index == 0:
                self.results[name] = (df.columns, rows)

        # one operation per write mechanism: rebuild the layout, read it once
        with h.op("refresh:daily-counts-store"):  # the availableNow fold
            out = h.call("streaming.ensure", storequery.ensure_daily_counts_store, spark, sf)
            read("daily-counts-store")
        if h.fold:
            h.layers["streaming.store_bytes"] += dir_bytes(os.path.dirname(out))
        with h.op("refresh:parity-views+rollup"):
            h.call("sources.stage", lambda: (tables.points_de_vente(spark, sf), tables.produits(spark, sf)))
            h.call("materialized.monthly_rollup", materialized.monthly_rollup, spark, sf)
            read("top-magasins")
            read("top-magasins-rollup")

    def check(self, h: Harness) -> None:
        from pyspark.sql import functions as F

        for table, want in self.expected.items():
            df = h.spark.read.parquet(os.path.join(self.native_dir, table))
            got = {r["month"]: r["n"] for r in df.groupBy("month").agg(F.count("*").alias("n")).collect()}
            h.check(sum(got.values()) == want["rows"], f"ingest {table}: row count {sum(got.values())} != {want['rows']}")
            h.check(got == want["months"], f"ingest {table}: per-month counts differ")
        con = oracle.connect(self.sf_dir)
        for name in REFRESH_READS:
            if name not in self.results:  # its failure is already counted
                continue
            cols, rows = self.results[name]
            h.check(oracle.matches(con, name, cols, rows), f"{name}: oracle mismatch")
        con.close()


WORKLOADS = {w.name: w for w in (ApiMix, CurationBatch, EtlRefresh)}
