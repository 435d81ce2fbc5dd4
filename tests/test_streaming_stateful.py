"""Stateful streaming: running per-user totals must survive across
micro-batches and converge to the batch ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.streaming.stateful import running_user_totals
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_stateful_running_totals(spark, tmp_path):
    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    # Several files → several micro-batches (maxFilesPerTrigger=4).
    for i, chunk in enumerate(range(0, len(pdf), 100)):
        rows = pdf.iloc[chunk : chunk + 100]
        write_event_file(rows, src / f"b{i}.json")

    stream = running_user_totals(read_event_stream(spark, str(src)))
    query = drain(stream, "user_totals", "update")
    try:
        # Update-mode memory sink appends one row per (user, batch);
        # the running counter is monotonic, so max(n_events) is final.
        final = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                """SELECT user_id, n_events, total_value FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY n_events DESC) rn
                     FROM user_totals) WHERE rn = 1"""
            ).collect()
        }
    finally:
        query.stop()

    truth = {
        r["user_id"]: (r["n"], r["tv"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(final) == set(truth)
    for uid, (n, _tv) in truth.items():
        assert final[uid][0] == n, (uid, final[uid], n)
        # float accumulation order differs between the incremental and
        # batch paths; compare with tolerance.
        assert abs(final[uid][1] - _tv) < 1e-6
