"""Streaming twins must agree with batch ground truth on identical
input: the sliding-window aggregate and the watermarked stream-stream
click→purchase attribution join."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.streaming.joins import click_purchase_attribution_stream
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream, sliding_counts_stream
from tests.conftest import SF_DIR, write_event_file


@pytest.fixture(scope="module")
def stream_src(spark, tmp_path_factory):
    """Land the events table as JSON micro-batch files once per module."""
    pdf = load(spark, SF_DIR, "events").toPandas()
    src = tmp_path_factory.mktemp("stream_join_src")
    for i, chunk in enumerate(range(0, len(pdf), 250)):
        rows = pdf.iloc[chunk : chunk + 250]
        write_event_file(rows, src / f"batch_{i}.json")
    return src


def test_sliding_stream_matches_batch(spark, stream_src):
    stream = read_event_stream(spark, str(stream_src))
    query = drain(sliding_counts_stream(stream), "sliding_test", "complete")
    try:
        got = {
            (r.window_start, r.event_type): r.n_events
            for r in spark.sql("SELECT * FROM sliding_test").collect()
        }
    finally:
        query.stop()

    batch = (
        spark.read.json(str(stream_src / "*.json"), schema=stream.schema)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stream_stream_join_matches_batch(spark, stream_src):
    stream = read_event_stream(spark, str(stream_src))
    query = drain(
        click_purchase_attribution_stream(stream), "attribution_test", "append"
    )
    try:
        got = {
            (r.user_id, r.click_id, r.purchase_id): (
                r.click_ts,
                r.purchase_ts,
                r.purchase_value,
            )
            for r in spark.sql("SELECT * FROM attribution_test").collect()
        }
    finally:
        query.stop()

    ev = spark.read.json(str(stream_src / "*.json"), schema=stream.schema)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "purchase_value",
    )
    want = {
        (r.user_id, r.click_id, r.purchase_id): (
            r.click_ts,
            r.purchase_ts,
            r.purchase_value,
        )
        for r in batch.collect()
    }
    assert got == want
    # Vacuous-pass guard: the fixture data must actually contain
    # attributable click→purchase sequences.
    assert len(want) > 0


def test_stream_stream_left_outer_join_expiry(spark, stream_src, tmp_path):
    """LEFT OUTER with watermark-expiry emission: clicks that never
    purchased must emit NULL-extended rows once the watermark passes
    click_ts + window, and state must actually be evicted."""
    import shutil

    from etl_spark.streaming.joins import (
        click_purchase_attribution_left_stream,
    )
    from etl_spark.streaming.windows import EVENT_SCHEMA

    # Copy the fixture and append a far-future watermark-pusher batch
    # (one click + one purchase, excluded from comparison) so EVERY
    # real click's match window falls below the final watermark and
    # its null row must be emitted inside the drained backlog.
    src = tmp_path / "left_src"
    src.mkdir()
    for f in stream_src.glob("*.json"):
        shutil.copy(f, src / f.name)
    max_ts = (
        spark.read.json(str(src / "*.json"), schema=EVENT_SCHEMA)
        .agg(F.max("ts"))
        .first()[0]
    )
    pusher_ts = (max_ts + __import__("datetime").timedelta(days=2)).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )
    with open(src / "batch_zz_pusher.json", "w") as f:
        for eid, etype in ((999_000_001, "click"), (999_000_002, "purchase")):
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "ts": pusher_ts,
                        "user_id": 999_999,
                        "event_type": etype,
                        "value": 0.0,
                        "props": "{}",
                    }
                )
                + "\n"
            )

    stream = read_event_stream(spark, str(src))
    query = drain(
        click_purchase_attribution_left_stream(stream), "left_attr_test", "append"
    )
    try:
        progresses = query.recentProgress
        got = {
            (r.user_id, r.click_id, r.purchase_id): (
                r.click_ts,
                r.purchase_ts,
                r.purchase_value,
            )
            for r in spark.sql(
                "SELECT * FROM left_attr_test WHERE click_id < 999000000"
            ).collect()
        }
    finally:
        query.stop()

    ev = spark.read.json(str(src / "*.json"), schema=EVENT_SCHEMA).filter(
        F.col("event_id") < 999_000_000
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "purchase_value",
    )
    want = {
        (r.user_id, r.click_id, r.purchase_id): (
            r.click_ts,
            r.purchase_ts,
            r.purchase_value,
        )
        for r in batch.collect()
    }
    assert got == want
    # The expiry path must actually fire: some clicks never purchase.
    null_rows = [k for k in want if k[2] is None]
    assert len(null_rows) > 0
    # State eviction: the join's state store must have removed rows as
    # the watermark advanced (the mechanism behind the null emission).
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in (p["stateOperators"] if "stateOperators" in p else [])
    )
    assert removed > 0
