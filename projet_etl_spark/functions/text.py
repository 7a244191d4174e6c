"""Text primitives shared by the dedup / text-analysis operators.

Everything here is built from JVM-side column expressions (no Python
UDFs in the hot path) and has a term-for-term DuckDB equivalent so
the extension queries can be oracle-checked:

- tokens: split on runs of whitespace after lower+trim
- shingles: word 3-grams (the dedup unit)
- portable_hash60: first 15 hex chars of md5 → BIGINT. md5 is
  identical across engines, unlike Spark's xxhash64 / DuckDB's hash()
- h30: hash60 mod 2^30, small enough that (a*h30+b) never overflows
  int64 in either engine (DuckDB errors on overflow, Spark wraps)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

H30_MOD = 1 << 30
MINHASH_PRIME = 2147483647  # 2^31 - 1

# 16 fixed (a, b) permutation constants; a < 2^20 keeps a*h30 < 2^50.
# 4 bands x 4 rows for LSH banding.
MINHASH_PERMS: list[tuple[int, int]] = [
    (1000003, 12345), (999983, 54321), (909091, 11111), (777787, 22222),
    (666667, 33333), (555557, 44444), (444443, 55555), (333331, 66666),
    (222223, 77777), (111119, 88888), (99991, 99999), (88801, 13579),
    (77773, 24680), (66601, 97531), (55441, 86420), (44389, 31415),
]
MINHASH_BANDS = 4
MINHASH_ROWS = 4

SIMHASH_BITS = 30
SIMHASH_BAND_BITS = 10


def normalized(text: Column) -> Column:
    """lower + trim + collapse whitespace runs to single spaces."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def tokens(text: Column) -> Column:
    """array<string> of whitespace-delimited tokens of lower(trim(text))."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles3(toks: Column) -> Column:
    """Distinct word 3-grams; empty array when fewer than 3 tokens.

    Uses 1-based element_at so the expression mirrors DuckDB's
    1-based list indexing exactly.
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(toks) >= 3, make).otherwise(empty))


def shingles_k(toks: Column, k: int) -> Column:
    """Distinct word k-grams; empty array when fewer than k tokens.
    ``shingles3`` is the k=3 special case kept for the dedup family;
    decontamination uses longer grams (short grams over-flag)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(toks) >= k, make).otherwise(empty))


def portable_hash60(s: Column) -> Column:
    """Deterministic cross-engine 60-bit hash of a string.

    Spark:  conv(substring(md5(encode(s,'UTF-8')), 1, 15), 16, 10)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
    """
    return F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10).cast("long")


def h30(s: Column) -> Column:
    """portable_hash60 reduced below 2^30 (overflow-safe multiplies)."""
    return portable_hash60(s) % F.lit(H30_MOD)


def fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 hex of the normalized text."""
    return F.md5(F.encode(normalized(text), "UTF-8"))


# DuckDB SQL fragments mirroring the expressions above (kept adjacent
# so Spark and oracle definitions cannot drift).
SQL_TOKENS = "regexp_split_to_array(lower(trim({col})), '\\s+')"
SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len({t}) - 1, 1)), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
)
SQL_HASH60 = "(('0x' || substr(md5({col}), 1, 15))::BIGINT)"


def sql_shingles_k(t: str, k: int) -> str:
    """DuckDB twin of shingles_k: range() is end-exclusive so an
    undersized token list yields an empty gram list without a guard."""
    terms = " || ' ' || ".join(f"{t}[i+{j}]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({t}) - {k - 2}, 1)), i -> {terms}))"
    )
SQL_NORMALIZED = "regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"
