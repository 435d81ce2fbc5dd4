"""A live-source streaming demo on Spark's built-in ``rate-micro-batch``.

Every other streaming twin in this package reads files or the memory
source — the batch/stream bridge the tests need. This module closes the
remaining gap (an EXTERNAL, continuously-producing source) without a
broker: ``rate-micro-batch`` is Spark's deterministic load-generator
source — each micro-batch emits exactly ``rowsPerBatch`` rows
``(timestamp, value)`` with value a gap-free global sequence. In a real
deployment the two functions below are unchanged except
``format("rate-micro-batch")`` becomes ``format("kafka")`` +
``from_json`` — the watermark/window/agg pipeline is source-agnostic.

Scale notes:
* the synthesized event stream is a narrow map over the source — no
  shuffle before the windowed aggregate, so ingest parallelism is
  ``numPartitions`` of the source (partitions of the Kafka topic in the
  real deployment).
* the aggregate is the same watermarked tumbling window as
  ``windows.hourly_counts_stream`` — state is bounded by the watermark,
  O(open windows x event types), independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_SPARK

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def read_rate_events(
    spark: SparkSession,
    rows_per_batch: int = 100,
    num_partitions: int = 4,
    start_ts_ms: int = 1_704_103_200_000,  # 2024-01-01T10:00:00Z
    advance_ms_per_batch: int = 60_000,
) -> DataFrame:
    """Continuous synthetic event stream from ``rate-micro-batch``.

    The source yields (timestamp, value); the event fields are pure
    deterministic functions of ``value`` so any run (and the batch
    oracle in the test) can recompute the stream exactly. Timestamps
    advance ``advance_ms_per_batch`` per micro-batch from a fixed
    epoch, making window contents reproducible — the property that
    makes this the test-friendly stand-in for a broker source.
    """
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .option("startTimestamp", start_ts_ms)
        .option("advanceMillisPerBatch", advance_ms_per_batch)
        .load()
    )
    return synthesize_events(src)


def synthesize_events(src: DataFrame) -> DataFrame:
    """(timestamp, value) -> the events schema, map-only (no shuffle).

    Works identically on a streaming or batch (timestamp, value) frame
    — the test builds the batch oracle by running this same function
    over ``spark.range`` output.
    """
    etype = F.element_at(
        F.array(*[F.lit(t) for t in EVENT_TYPES]),
        (F.col("value") % len(EVENT_TYPES) + 1).cast("int"),
    )
    return src.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        etype.alias("event_type"),
        ((F.col("value") % 97).cast("double") / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def rate_hourly_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1-minute window per event_type — the same
    shape as windows.hourly_counts_stream, minute-sized so a short
    test run closes several windows."""
    return (
        events.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
