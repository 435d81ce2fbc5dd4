"""Event-time timeout sessionization: a session must flush when the
watermark passes its idle horizon (end + gap) even though no further
event for that user ever arrives — the state-reaping path that keeps
per-key state bounded for idle users. Gap-closure and timeout-closure
are both exercised; a still-open session at drain is NOT emitted."""

from __future__ import annotations

import json
import time

from etl_spark.streaming.sessions import sessionize_stream_with_timeout
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import EVENT_SCHEMA


def _ev(eid, ts, uid):
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": uid,
        "event_type": "click",
        "value": 1.0,
        "props": "{}",
    }


def test_idle_session_flushes_via_event_time_timeout(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # u1: session A (2 events), then a >10min gap closes A and
        # opens session B (single event, then u1 goes idle forever).
        [
            _ev(1, "2024-01-01T10:00:00.000000", 1),
            _ev(2, "2024-01-01T10:05:00.000000", 1),
            _ev(3, "2024-01-01T10:20:00.000000", 1),
        ],
        # u2 traffic advances event time far past B's idle horizon
        # (10:30); several batches so the watermark both updates and
        # takes effect for timeout processing.
        [_ev(4, "2024-01-01T13:00:00.000000", 2)],
        [_ev(5, "2024-01-01T13:05:00.000000", 2)],
        [_ev(6, "2024-01-01T13:10:00.000000", 2)],
    ]
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        time.sleep(0.2)

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withWatermark("ts", "10 minutes")
    )
    q = drain(sessionize_stream_with_timeout(events), "timeout_sessions", "append")
    try:
        rows = sorted(
            (
                r["user_id"],
                r["session_start"],
                r["session_end"],
                r["n_events"],
                r["closed_by"],
            )
            for r in spark.sql("SELECT * FROM timeout_sessions").collect()
        )
    finally:
        q.stop()

    assert rows == [
        # Session A closed explicitly by the gap-exceeding next event.
        (1, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 2, "gap"),
        # Session B closed by the EVENT-TIME TIMEOUT: no further u1
        # event exists; the watermark crossing 10:30 flushed it.
        (1, "2024-01-01 10:20:00", "2024-01-01 10:20:00", 1, "timeout"),
        # u2's session is still open at drain → correctly absent.
    ]
