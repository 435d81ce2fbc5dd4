"""Streaming sessionization must converge to the batch
gaps-and-islands ground truth when the stream drains.

Source replays the events table in timestamp order across several
micro-batches (the module's ordering contract); the update-mode sink
receives session snapshots, of which the LAST per (user,
session_start) is the session's final form.
"""

from __future__ import annotations

from etl_spark.plans import REGISTRY
from etl_spark.streaming.sessions import sessionize_stream
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_streaming_sessions_match_batch(spark, tmp_path):
    from etl_spark.io import load

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas().sort_values(["ts", "event_id"])
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 200)):
        rows = pdf.iloc[chunk : chunk + 200]
        write_event_file(rows, src / f"b{i:04d}.json")

    stream = sessionize_stream(read_event_stream(spark, str(src)))
    query = drain(stream, "stream_sessions", "update")
    try:
        final = {
            (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
            for r in spark.sql(
                """SELECT user_id, session_start, session_end, n_events FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_start
                       ORDER BY n_events DESC) rn
                     FROM stream_sessions) WHERE rn = 1"""
            ).collect()
        }
    finally:
        query.stop()

    truth = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in REGISTRY["events_sessionize"].builder(spark, SF_DIR).collect()
    }
    assert final == truth
