"""The streaming error-rate monitor must converge to the batch
events_error_rate_hourly result when the stream drains."""

from __future__ import annotations

from etl_spark.plans import REGISTRY
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import error_rate_stream, read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_streaming_error_rate_matches_batch(spark, tmp_path):
    from etl_spark.io import load

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 200)):
        rows = pdf.iloc[chunk : chunk + 200]
        write_event_file(rows, src / f"b{i:04d}.json")

    q = drain(
        error_rate_stream(read_event_stream(spark, str(src))),
        "stream_error_rate",
        "complete",
    )
    try:
        got = {
            r["hour"]: (r["n_events"], r["n_errors"], r["error_rate"], r["alert"])
            for r in spark.sql("SELECT * FROM stream_error_rate").collect()
        }
    finally:
        q.stop()

    want = {
        r["hour"]: (r["n_events"], r["n_errors"], r["error_rate"], r["alert"])
        for r in REGISTRY["events_error_rate_hourly"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert got == want
