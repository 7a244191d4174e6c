"""Seeded input generator for the benchmark.

Writes a warehouse shaped like the engine's star-schema fixtures
(region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each, same column names and physical
types) and, for the write-side workload, the two reference-shaped
whitespace CSVs that ``projet_etl_spark.ingest`` loads.

Row counts are fixed by ``scale`` (``scale=1.0`` is the 600k-lineitem
bench fixture); only the values depend on the seed, so two seeds give
workloads of the same size.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "D")

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
N_BRANDS = 25


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform midnight timestamps (microseconds) in [lo, hi]."""
    a = (np.datetime64(lo, "D") - _EPOCH_1995).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_1995).astype(int)
    d = rng.integers(a, b + 1, n)
    return (d + (_EPOCH_1995 - np.datetime64("1970-01-01", "D")).astype(int)) * _DAY_US


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Money on the 2-dp grid the engine's fixed-point sums rely on."""
    return rng.integers(lo * 100, hi * 100, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_warehouse(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every star-schema table; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(15_000 * scale))
    n_supp = max(100, int(1_000 * scale))
    n_part = max(200, int(20_000 * scale))
    n_ord = max(1_500, int(150_000 * scale))
    n_line = max(6_000, int(600_000 * scale))
    n_ev = max(1_000, int(100_000 * scale))
    n_doc = max(500, int(5_000 * scale))
    n_emb = max(500, int(2_000 * scale))
    n_users = max(15, int(1_500 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999, 9999, n_supp),
    })
    partkey = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out_dir, "part", {
        "p_partkey": partkey,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, N_BRANDS + 1)])[
            rng.integers(0, N_BRANDS, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (partkey % 1000) / 10.0,
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1_000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    orderkey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    _write(out_dir, "lineitem", {
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 18, 2_100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    t0 = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(
        np.int64
    )
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + t0
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def _documents(rng, n: int) -> dict:
    """Word-salad documents with the fixture's duplicate structure:
    about 5% are an earlier document plus a trailing ``dup`` token and
    a handful are exact copies, so the dedup families find work."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


_HEADER_VARIANTS = (
    ("dateid", "prodid", "catid", "fabid", "magid"),
    ("DATEID", "PRODID", "CATID", "FABID", "MAGID"),
    ("DateId", "ProdId", "CatId", "FabId", "MagId"),
)
_SEPS = np.array([" ", "  ", "   ", "\t", " \t "])


def write_reference_csvs(csv_dir: str, seed: int, rows: int) -> dict:
    """Write ``produits-tous.csv`` and ``pointsDeVente-tous.csv``
    (whitespace-delimited, header row, ``yyyyMMdd`` dates, varied
    space runs and header case, zipf-skewed products and stores).

    Returns what an ingest must reproduce: rows and rows per
    ``yyyy-MM`` month for each table."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(csv_dir, exist_ok=True)
    n_prod = 5_000
    prod_cat = rng.integers(1, 51, n_prod + 1)
    prod_fab = rng.integers(1, 201, n_prod + 1)
    expected = {}
    days = np.datetime64("2022-01-01", "D") + np.arange(1096)
    ymd = [s.replace("-", "") for s in np.datetime_as_string(days, "D").tolist()]
    month = [s[:7] for s in np.datetime_as_string(days, "D").tolist()]
    for table, fname, with_mag in (
        ("produits", "produits-tous.csv", False),
        ("points_de_vente", "pointsDeVente-tous.csv", True),
    ):
        day = rng.integers(0, len(days), rows).tolist()
        prod = np.minimum(rng.zipf(1.3, rows), n_prod)
        cols = [
            [ymd[d] for d in day],
            prod.tolist(),
            prod_cat[prod].tolist(),
            prod_fab[prod].tolist(),
        ]
        if with_mag:
            cols.append(np.minimum(rng.zipf(1.5, rows), 500).tolist())
        header = _HEADER_VARIANTS[int(rng.integers(0, len(_HEADER_VARIANTS)))]
        seps = _SEPS[rng.integers(0, len(_SEPS), (len(cols) - 1, rows))].tolist()
        lines = []
        for i in range(rows):
            parts = [str(cols[0][i])]
            for c, s in zip(cols[1:], seps):
                parts.append(s[i])
                parts.append(str(c[i]))
            lines.append("".join(parts))
        with open(os.path.join(csv_dir, fname), "w", encoding="utf-8") as f:
            f.write("  ".join(header[: len(cols)]) + "\n")
            f.write("\n".join(lines))
            f.write("\n")
        months = Counter(month[d] for d in day)
        expected[table] = {"rows": rows, "months": dict(sorted(months.items()))}
    return expected
