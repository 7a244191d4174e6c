"""Weighted-score definitions.

The reference computes a per-store "score" as a weighted sum of
distinct-counts and row count, with two weight profiles:

  4-term (reference views.py:34-37):
      cd(fabid)*0.1 + cd(catid)*0.2 + cd(prodid)*0.3 + COUNT(*)*0.4
  3-term (reference views.py:51-53 and 175-177):
      cd(fabid)*0.1 + cd(prodid)*0.3 + COUNT(*)*0.6
  3-term, top-1 ordering (reference views.py:175-177):
      cd(prodid)*0.3 + COUNT(*)*0.6 + cd(fabid)*0.1

Each profile is defined once, as its (measure, weight) terms. The
term *order* is preserved per call site so the double arithmetic
associates identically to the DuckDB oracle (bit-exact floats).
``score_sql`` renders a profile for the request templates;
``score4`` renders the 4-term one as a Column.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F

SCORE4 = (
    ("total_fabricants", 0.1),
    ("total_categories", 0.2),
    ("total_produits", 0.3),
    ("total_ventes", 0.4),
)
SCORE3 = (("total_fabricants", 0.1), ("total_produits", 0.3), ("total_ventes", 0.6))
# term order matches reference views.py:175-177 exactly
SCORE3_TOP1 = (("total_produits", 0.3), ("total_ventes", 0.6), ("total_fabricants", 0.1))


def score_sql(terms) -> str:
    """The profile as a Spark SQL expression over its measure names.
    The weights are ``D``-suffixed doubles: an unsuffixed ``0.1`` is a
    DECIMAL(1,1) in Spark SQL, and decimal products would not be the
    oracle's doubles."""
    return " + ".join(f"{measure} * {weight!r}D" for measure, weight in terms)


def score4(fab: Column, cat: Column, prod: Column, ventes: Column) -> Column:
    terms = zip((fab, cat, prod, ventes), (w for _, w in SCORE4))
    return functools.reduce(operator.add, (c * F.lit(w) for c, w in terms))
