"""Watermarked stream-stream join: click→purchase attribution.

The hardest streaming operator shape: BOTH sides are unbounded, so the
join must buffer state for each side and needs two bounds to stay
finite at 100 TB:

* a watermark on each input — rows later than WATERMARK_DELAY are
  dropped, bounding how far back state reaches;
* a time-range join condition (purchase within ATTRIBUTION_WINDOW
  after the click) — together with the watermarks this lets Spark
  compute exactly when a buffered click can no longer match any
  future purchase and evict it.

Without the range condition the click-side state would grow forever;
Spark enforces this by requiring event-time constraints for
stream-stream joins in append mode. Inner-join matches emit as soon
as both sides arrive (no watermark wait), so draining a backlog with
availableNow yields the complete match set — verified against the
identical batch join in tests/test_streaming_joins.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_SPARK

WATERMARK_DELAY = "10 minutes"
ATTRIBUTION_WINDOW = "1 hour"


def click_purchase_attribution_stream(events: DataFrame) -> DataFrame:
    """Inner stream-stream join: each purchase matched to every click
    by the same user in the preceding ATTRIBUTION_WINDOW.

    Both sides derive from one source stream by filtering — the same
    physical reader feeds two logical streams, the standard fan-out
    shape for event-type attribution.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        ),
    )
    return joined.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", TS_FMT_SPARK).alias("click_ts"),
        F.date_format("purchase_ts", TS_FMT_SPARK).alias("purchase_ts"),
        "purchase_value",
    )


def click_purchase_attribution_left_stream(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join — the "clicks that never
    purchased" shape, the one join mode the inner form can't express.

    Same keys/range/watermarks as the inner join, but a click with no
    matching purchase must eventually emit a NULL-extended row — and
    "eventually" is precisely defined: only once the watermark passes
    click_ts + ATTRIBUTION_WINDOW can Spark prove no future purchase
    can match, so null rows emit exactly at state-eviction time (the
    outer-join-with-expiry contract). Until then the click sits in
    state; a drained backlog therefore emits null rows for every click
    whose match window is fully below the final watermark, and holds
    the rest — tests/test_streaming_joins.py pins both halves and
    asserts the state metrics show the eviction.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK_DELAY)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK_DELAY)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")
        ),
        "leftOuter",
    )
    return joined.select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", TS_FMT_SPARK).alias("click_ts"),
        F.date_format("purchase_ts", TS_FMT_SPARK).alias(
            "purchase_ts"
        ),
        "purchase_value",
    )

