"""Stream/batch value parity for the streaming aggregates: NaN and null
values must come out of ``cdc_apply_stream`` and
``running_user_totals`` exactly as the batch forms give them over the
same static read — a NaN winner stays NaN, a null winner stays null,
and a user whose values are all null sums to null, not 0.0."""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from etl_spark.plans.lakehouse import CDC_DELETE_TYPE, cdc_apply_log
from etl_spark.streaming.cdc import cdc_apply_stream, events_as_changelog
from etl_spark.streaming.stateful import running_user_totals
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import EVENT_SCHEMA, read_event_stream

# (event_id, user_id, second, value): user 1's winner is NaN, user 2's
# is null, user 3's values are all null.
_EVENTS = [
    (1, 1, 0, 1.0),
    (2, 1, 1, float("nan")),
    (3, 2, 0, 2.0),
    (4, 2, 1, None),
    (5, 3, 0, None),
    (6, 3, 1, None),
]


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _drain(df, name, order):
    """Run an update-mode stream to the memory sink and return each
    user's last emission, picked by the monotonic column ``order``."""
    q = drain(df, name, "update")
    try:
        progress = q.recentProgress
        rows = df.sparkSession.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    # One file per event and maxFilesPerTrigger=4 -> two micro-batches,
    # so the winners and sums cross the state store.
    assert sum(p["numInputRows"] > 0 for p in progress) == 2
    last = {}
    for r in rows:
        if r["user_id"] not in last or r[order] >= last[r["user_id"]][order]:
            last[r["user_id"]] = r
    return last


def test_stream_values_equal_batch_forms(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for eid, uid, sec, val in _EVENTS:
        (src / f"e{eid}.json").write_text(
            json.dumps(
                {
                    "event_id": eid,
                    "ts": f"2025-01-01T00:00:{sec:02d}.000000",
                    "user_id": uid,
                    "event_type": "click",
                    "value": val,
                    "props": None,
                }
            )
            + "\n"
        )
    static = spark.read.schema(EVENT_SCHEMA).json(str(src))
    stream = read_event_stream(spark, str(src))

    cdc = _drain(
        cdc_apply_stream(events_as_changelog(stream, CDC_DELETE_TYPE)),
        "parity_cdc",
        "ts_us",
    )
    got = {u: (r["event_id"], _norm(r["value"]), r["op"]) for u, r in cdc.items()}
    batch = cdc_apply_log(events_as_changelog(static, CDC_DELETE_TYPE))
    want = {
        r["user_id"]: (r["event_id"], _norm(r["value"]), r["op"])
        for r in batch.collect()
    }
    assert got == want
    assert want == {1: (2, "NaN", "U"), 2: (4, None, "U"), 3: (6, None, "U")}

    totals = _drain(running_user_totals(stream), "parity_totals", "n_events")
    got = {u: (r["n_events"], _norm(r["total_value"])) for u, r in totals.items()}
    batch = static.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")
    )
    want = {r["user_id"]: (r["n"], _norm(r["tv"])) for r in batch.collect()}
    assert got == want
    assert want == {1: (2, "NaN"), 2: (2, 2.0), 3: (2, None)}
