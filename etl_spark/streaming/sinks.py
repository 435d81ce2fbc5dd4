"""The one streaming run path, and exactly-once streaming sinks via
foreachBatch + idempotent writes.

``drain`` is how every streaming query in the engine runs: the
availableNow trigger processes whatever input is available in bounded
micro-batches and stops, and ``drain`` returns the finished query
(its ``recentProgress`` carries the state-operator receipts, under the
query's name). It writes either to the in-memory table of that name
(test harnesses) or through a ``foreachBatch`` callback with a
checkpoint (the production table sinks of ``file_source``, ``cdc`` and
``start_idempotent_file_sink``).

Structured Streaming guarantees each micro-batch a stable ``batch_id``
and replays a batch after failure with the SAME id. A sink is
exactly-once iff re-writing a replayed batch leaves the output
unchanged — achieved here by partitioning the output on the batch id
and overwriting ONLY that partition (dynamic partition overwrite):
the replay replaces its own partition byte-for-byte instead of
appending duplicates.

This is the file-sink shape a 100 TB deployment uses when the built-in
parquet sink's directory-log semantics don't fit (e.g. external tables
read by engines that don't understand Spark's _spark_metadata log).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drain(result: DataFrame, name: str, mode: str, sink=None, checkpoint=None):
    """Run the streaming frame ``result`` to the end of its available
    input (availableNow trigger), in output ``mode``, as the query
    ``name``, and return the finished query. With no ``sink`` it writes
    the in-memory table ``name``; with one it calls
    ``sink(batch_df, batch_id)`` per micro-batch (foreachBatch).
    ``checkpoint``, when given, is the query's checkpoint location."""
    writer = result.writeStream.queryName(name).outputMode(mode)
    if sink is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", str(checkpoint))
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def write_batch_idempotent(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """foreachBatch callback: land one micro-batch under its own
    batch_id partition, dynamically overwriting on replay."""
    (
        batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def start_idempotent_file_sink(events: DataFrame, out_path: str, checkpoint: str):
    """Stream events to an idempotent partitioned parquet sink,
    draining the current backlog (availableNow) with checkpointing —
    a restart resumes from the checkpoint and never rewrites completed
    batches except as byte-identical replays. The returned query has
    already finished, so a caller's ``awaitTermination()`` on it
    returns at once."""
    return drain(
        events,
        "idempotent_file_sink",
        "append",
        sink=lambda df, bid: write_batch_idempotent(df, bid, out_path),
        checkpoint=checkpoint,
    )
