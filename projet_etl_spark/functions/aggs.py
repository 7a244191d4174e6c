"""Aggregate column expressions.

``countDistinct`` inside a ``groupBy`` plans through Catalyst's
RewriteDistinctAggregates: one distinct column costs a second
aggregation level keyed on (group, value) and a second shuffle; two
or more add an ``Expand`` that copies every row once per distinct
column before both shuffles. ``distinct_count`` instead keeps each
group's value set in the partial aggregate, so the group's rows
cross ONE exchange, hash-partitioned on the group key, carrying
map-side deduplicated sets.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def distinct_count(col: str | Column) -> Column:
    """COUNT(DISTINCT col) as ``size(collect_set(col))``, cast to bigint
    like ``countDistinct``. NULLs are skipped, so a group whose values
    are all NULL counts 0.

    Bound rule: use it only where one group's set is bounded by the
    group's own domain whatever the data volume — a store's or a
    supplier's assortment (products, suppliers, categories sold by one
    store; products made by one supplier). Keep ``countDistinct`` where
    the groups are few and wide — a grand aggregate, or a month's set
    of stores — because there one set grows with the data and a single
    task would hold it; Catalyst's rewrite spreads those values over
    the (group, value) shuffle instead.
    """
    return F.size(F.collect_set(col)).cast("long")
