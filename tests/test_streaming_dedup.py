"""Streaming dedup: duplicate deliveries within the watermark horizon
must be suppressed; the surviving row set equals the batch distinct."""

from __future__ import annotations

from etl_spark.io import load
from etl_spark.streaming.dedup import dedup_events_stream
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_streaming_dedup_suppresses_redelivery(spark, tmp_path):
    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas().head(300)
    src = tmp_path / "src"
    src.mkdir()

    # read_event_stream caps 4 files per trigger; 10 files forces at
    # least 3 micro-batches, so the re-delivery files (the last four,
    # repeating events 100-299) land in LATER batches than the
    # originals — exercising cross-batch state, not just intra-batch
    # dedup.
    for i in range(6):
        write_event_file(pdf.iloc[i * 50 : (i + 1) * 50], src / f"orig_{i}.json")
    for i in range(4):
        write_event_file(pdf.iloc[100 + i * 50 : 100 + (i + 1) * 50], src / f"redeliver_{i}.json")

    stream = dedup_events_stream(read_event_stream(spark, str(src)))
    query = drain(stream, "dedup_stream", "append")
    try:
        got = [
            r["event_id"]
            for r in spark.sql("SELECT event_id FROM dedup_stream").collect()
        ]
    finally:
        query.stop()

    assert sorted(got) == sorted(set(got)), "duplicates survived"
    assert sorted(set(got)) == sorted(int(e) for e in pdf.event_id)
