"""Exactly-once foreachBatch sink: replaying a batch (same batch_id)
must leave the output unchanged, and a checkpointed restart must not
duplicate rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.streaming.sinks import (
    start_idempotent_file_sink,
    write_batch_idempotent,
)
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def _land_files(spark, src, n_rows=500):
    pdf = load(spark, SF_DIR, "events").limit(n_rows).toPandas()
    for i, chunk in enumerate(range(0, len(pdf), 100)):
        rows = pdf.iloc[chunk : chunk + 100]
        write_event_file(rows, src / f"batch_{i}.json")
    return len(pdf)


def test_sink_is_idempotent_on_batch_replay(spark, tmp_path):
    out = str(tmp_path / "out")
    df = load(spark, SF_DIR, "events").limit(100)
    write_batch_idempotent(df, 7, out)
    first = spark.read.parquet(out).orderBy("event_id").collect()
    # Replay the same batch id (what a post-failure retry does).
    write_batch_idempotent(df, 7, out)
    replayed = spark.read.parquet(out).orderBy("event_id").collect()
    assert replayed == first
    assert len(first) == 100


def test_checkpointed_stream_lands_each_row_exactly_once(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    n = _land_files(spark, src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream = read_event_stream(spark, str(src))
    q = start_idempotent_file_sink(stream, out, ckpt)
    q.awaitTermination()

    landed = spark.read.parquet(out)
    assert landed.count() == n
    assert landed.select("event_id").distinct().count() == n
    # Restart with the same checkpoint and no new input: nothing
    # re-lands, nothing duplicates.
    q2 = start_idempotent_file_sink(read_event_stream(spark, str(src)), out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n
    # Batch partitions carry the id column for audit/replay targeting.
    assert spark.read.parquet(out).select(
        F.col("_batch_id")
    ).distinct().count() >= 1
