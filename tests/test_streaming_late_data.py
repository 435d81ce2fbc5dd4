"""Watermark semantics: an event arriving LATER than the watermark
delay behind the stream's max event time must be dropped from the
windowed aggregate — the state-bounding contract that makes streaming
aggregation viable (state stays O(open windows), not O(history)).

One query, one file per micro-batch (maxFilesPerTrigger=1). Watermark
mechanics observed on this engine (and asserted here because they are
easy to get wrong): the watermark is derived from data committed
through the PREVIOUS batch, and late-input filtering takes effect one
batch after that — so a straggler is reliably dropped only once the
watermark that excludes it was already active at the start of an
earlier batch. Timeline:

  b0  fills the 10:00 window (events at 10:05, 10:10)
  b1  jumps event time to 13:00  → watermark 12:50 commits after b1
  b2  another on-time event      → 12:50 active; state not yet final
  b3  straggler at 10:20         → DROPPED (numRowsDroppedByWatermark)

The append-mode emit of the 10:00 window must carry the on-time count
only.
"""

from __future__ import annotations

import json
import time

from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import EVENT_SCHEMA, hourly_counts_stream


def _write_batch(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(eid, ts, etype="click"):
    return {
        "event_id": eid,
        "ts": ts,
        "user_id": 1,
        "event_type": etype,
        "value": 1.0,
        "props": "{}",
    }


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()

    batches = [
        [_ev(1, "2024-01-01T10:05:00.000000"), _ev(2, "2024-01-01T10:10:00.000000")],
        [_ev(3, "2024-01-01T13:00:00.000000")],
        [_ev(5, "2024-01-01T13:05:00.000000")],
        [_ev(4, "2024-01-01T10:20:00.000000")],  # 2h50m late vs 10min delay
    ]
    for i, rows in enumerate(batches):
        _write_batch(src / f"b{i}.json", rows)
        time.sleep(0.2)  # distinct mod times → deterministic batch order

    events = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = drain(hourly_counts_stream(events), "late_data_sink", "append")
    try:
        dropped = sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
             if p["stateOperators"] else 0)
            for p in q.recentProgress
        )
        rows = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM late_data_sink").collect()
        }
    finally:
        q.stop()

    assert dropped == 1  # the straggler, and only the straggler
    # The 10:00 window emitted the ON-TIME count only.
    assert rows[("2024-01-01 10:00:00", "click")] == 2
