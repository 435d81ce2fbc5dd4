"""Structured Streaming: the streaming tumbling-window aggregate over a
file source must agree with the batch twin computed on the same data."""

from __future__ import annotations

from etl_spark.io import load
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import hourly_counts_stream, read_event_stream
from tests.conftest import SF_DIR, write_event_file

from pyspark.sql import functions as F


def test_streaming_hourly_matches_batch(spark, tmp_path):
    # Land the events table as several JSON micro-batch files.
    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "stream_src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 250)):
        rows = pdf.iloc[chunk : chunk + 250]
        write_event_file(rows, src / f"batch_{i}.json")

    stream = read_event_stream(spark, str(src))
    assert stream.isStreaming
    query = drain(hourly_counts_stream(stream), "hourly_test", "complete")
    try:
        got = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM hourly_test").collect()
        }
    finally:
        query.stop()

    batch = (
        spark.read.json(str(src / "*.json"), schema=stream.schema)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_static_join_matches_batch(spark, tmp_path):
    from etl_spark.streaming.windows import (
        enriched_category_totals_stream,
        event_type_dim,
    )

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "stream_src2"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 300)):
        rows = pdf.iloc[chunk : chunk + 300]
        write_event_file(rows, src / f"batch_{i}.json")

    dim = event_type_dim(spark)
    stream = read_event_stream(spark, str(src))
    query = drain(
        enriched_category_totals_stream(stream, dim), "enrich_test", "complete"
    )
    try:
        got = {
            (r.window_start, r.category): (r.n_events, r.total_weight)
            for r in spark.sql("SELECT * FROM enrich_test").collect()
        }
    finally:
        query.stop()

    batch = (
        spark.read.json(str(src / "*.json"), schema=stream.schema)
        .join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 hour").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("weight").alias("total_weight"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "category",
            "n_events",
            "total_weight",
        )
    )
    want = {
        (r.window_start, r.category): (r.n_events, r.total_weight)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0
    assert {c for _, c in got} <= {"engagement", "conversion", "quality"}
