"""Streaming exact deduplication: dropDuplicates with a watermark.

The streaming twin of operators/dedup.q_dedup_exact for an
at-least-once event feed: duplicates within the watermark horizon
are dropped by key; state for keys older than the watermark is
evicted, which is what keeps this bounded on an unbounded stream
(the batch form has no horizon — at 100 TB the horizon IS the
feasibility condition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate events by event_id within the watermark window
    (expects TimestampType ``ts``)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])
