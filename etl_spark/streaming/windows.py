"""Structured Streaming: the streaming twins of plans/events.py.

The reference has NO streaming runtime — its incrementality is re-run
batch over an append-only raw zone (SURVEY.md §2.2 "Streaming"). These
jobs are the engine's forward-looking extension: the tumbling, sliding
and error-rate aggregates of events_tumbling_hourly,
events_sliding_1h_30m and events_error_rate_hourly, expressed as
readStream → watermark → window → sink. Each twin calls its batch
query's own body (``plans.events.tumbling_hourly``,
``plans.events.sliding_1h_30m``, ``plans.timeseries.error_rate_hourly``)
on the watermarked stream, so a deployment can flip the events table
from nightly batch to continuous without changing the query's meaning.

Design notes for the 100 TB / continuous case:
* watermark bounds state: events later than WATERMARK_DELAY past the
  max seen ts are dropped, so the window state store stays O(open
  windows), not O(history).
* trigger: ``sinks.drain`` runs a twin with the availableNow trigger,
  which processes the backlog in bounded batches and stops — the
  batch/stream bridge (a deployment would use a processingTime
  trigger).
* sinks: ``drain`` writes to the in-memory table of the query's name
  or, given a ``foreachBatch`` callback and a checkpoint, to a
  production sink such as ``sinks.start_idempotent_file_sink``'s
  exactly-once parquet output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.functions.timestamps import TS_FMT_SPARK
from etl_spark.plans.events import sliding_1h_30m, tumbling_hourly
from etl_spark.plans.timeseries import error_rate_hourly

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

WATERMARK_DELAY = "10 minutes"


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream: each JSON file dropped into source_dir is a
    micro-batch of events (the streaming analog of the raw zone)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(source_dir)
    )


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_tumbling_hourly: its body over the
    watermarked stream."""
    return tumbling_hourly(events.withWatermark("ts", WATERMARK_DELAY))


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_sliding_1h_30m: each event lands in
    exactly two window states; the watermark closes both once event
    time moves past them."""
    return sliding_1h_30m(events.withWatermark("ts", WATERMARK_DELAY))


# Static enrichment dim for the stream-static join: event_type →
# (category, weight). Constant table — in production this is a parquet
# dim reloaded per micro-batch by Spark automatically.
EVENT_TYPE_DIM = (
    ("click", "engagement", 1),
    ("view", "engagement", 0),
    ("purchase", "conversion", 5),
    ("signup", "conversion", 3),
    ("error", "quality", -1),
)


def event_type_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(EVENT_TYPE_DIM), ["event_type", "category", "weight"]
    )


def enriched_category_totals_stream(
    events: DataFrame, dim: DataFrame
) -> DataFrame:
    """Stream-static join + windowed rollup: each micro-batch joins the
    (broadcast) static dim — no state needed for the join itself, only
    for the downstream window aggregation. The canonical enrichment
    shape: at 100 TB the dim is a parquet table Spark re-resolves every
    trigger, so slowly-changing dims are picked up without restarts."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .join(F.broadcast(dim), "event_type")
        .groupBy(F.window("ts", "1 hour").alias("w"), "category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("weight").alias("total_weight"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "category",
            "n_events",
            "total_weight",
        )
    )


def error_rate_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of events_error_rate_hourly: its body over the
    watermarked stream. The conditional-sum aggregate is incrementally
    mergeable, so the state per open window is two longs — the monitor
    runs at any event volume."""
    return error_rate_hourly(events.withWatermark("ts", WATERMARK_DELAY))
