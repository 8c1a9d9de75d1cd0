"""Running per-user counters across micro-batches.

A count and a sum are incrementally mergeable, so the native
streaming aggregate keeps them in the state store directly: state
per key is O(1) (two values), checkpointed per micro-batch. Logic a
native aggregate cannot express (gap-based sessions with event-time
timeouts) lives in ``streaming/sessions.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained across batches."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
