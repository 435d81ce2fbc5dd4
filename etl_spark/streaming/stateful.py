"""Running per-user counters across micro-batches as a built-in
streaming aggregate.

``groupBy("user_id").agg(count, sum)`` keeps (count, sum) per user in
the state store — O(1) per key, checkpointed per micro-batch — and in
update mode emits every touched user's running totals. The streaming
aggregate runs the same ``count``/``sum`` as the batch ground truth,
so NaN and null values fold exactly as they do in batch: a NaN makes
the sum NaN, and a user whose values are all null sums to null.
Custom state that no built-in aggregate expresses (per-entity session
machines) lives in ``sessions.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained across batches.
    Output: (user_id, n_events, total_value)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
