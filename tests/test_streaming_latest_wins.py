"""Streaming latest-wins must converge to the batch window's result
(S14 fidelity: latest ts wins, event_id breaks ties) when the stream
drains — including a REDELIVERY of an older version of a key, which
must NOT displace the newer winner already in state."""

from __future__ import annotations

from etl_spark.plans import REGISTRY
from etl_spark.streaming.latest_wins import latest_wins_stream
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_streaming_latest_wins_matches_batch(spark, tmp_path):
    from etl_spark.io import load

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 150)):
        rows = pdf.iloc[chunk : chunk + 150]
        write_event_file(rows, src / f"b{i:04d}.json")
    # Redeliver the FIRST batch again at the end (at-least-once source):
    # stale versions must not displace newer state.
    (src / "b9999.json").write_text((src / "b0000.json").read_text())

    stream = latest_wins_stream(read_event_stream(spark, str(src)))
    q = drain(stream, "latest_wins", "update")
    try:
        final = {
            (r["user_id"], r["event_type"]): (
                r["event_id"],
                r["event_ts"],
                r["value"],
            )
            for r in spark.sql(
                """SELECT * FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY event_ts DESC, event_id DESC) rn
                     FROM latest_wins) WHERE rn = 1"""
            ).collect()
        }
    finally:
        q.stop()

    truth = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["event_ts"], r["value"])
        for r in REGISTRY["events_latest_per_user_type"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert final == truth
