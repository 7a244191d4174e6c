"""Date helpers: month keys and the dense month spine.

The reference bucketes months with SQLite ``strftime('%Y-%m', …)``
(reference views.py:64,75,266,291) and builds a gap-filling calendar
with ``pd.date_range(freq='MS')`` (reference views.py:307). Both are
re-expressed as JVM-side column expressions / a generated relation —
no driver loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def month_key(col: Column) -> Column:
    """'yyyy-MM' month bucket of a date column (StringType)."""
    return F.date_format(col, "yyyy-MM")


# SQL: ``dateid`` in [lo, hi] for two date-string parameters; NULL for
# a NULL ``dateid``. Two comparisons, not BETWEEN: Spark plans BETWEEN
# as a common-expression ``With``, which splits an aggregate over it
# into extra projections.
IN_RANGE = "dateid >= to_date({lo}) AND dateid <= to_date({hi})"

# The dense month calendar [:epoch..:as_of] as (mois_annee string):
# one row per month-start, generated with ``sequence`` + ``explode``
# (a few hundred rows even for decades). A reversed range is empty,
# like the oracle's ``generate_series``: ``sequence`` rejects a
# descending range with a positive step, so it runs to
# ``greatest(epoch, as_of)`` and the filter drops what lies past
# ``as_of``. The spine is generated in one partition, and the
# COALESCE(1) hint declares that: a plan that streams the spine keeps
# SinglePartition, so its global sort runs in place with no range
# exchange and no sampling job.
MONTH_SPINE_SQL = """
SELECT /*+ COALESCE(1) */ date_format(m, 'yyyy-MM') AS mois_annee
FROM (SELECT explode(sequence(to_date(:epoch),
                              greatest(to_date(:epoch), to_date(:as_of)),
                              interval 1 month)) AS m)
WHERE m <= to_date(:as_of)
"""


def month_spine(spark: SparkSession, epoch: str, as_of: str) -> DataFrame:
    """Dense month calendar [epoch..as_of] as (mois_annee string);
    see ``MONTH_SPINE_SQL``."""
    return spark.sql(MONTH_SPINE_SQL, args={"epoch": epoch, "as_of": as_of})
