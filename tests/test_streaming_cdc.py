"""Streaming CDC apply must converge to the batch full-replay — the
same invariant the batch query's oracle states — including delete
visibility and redelivery of stale rows after a delete."""

from __future__ import annotations

from etl_spark.plans.lakehouse import CDC_DELETE_TYPE
from etl_spark.streaming.cdc import cdc_apply_stream, events_as_changelog
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR, write_event_file


def test_streaming_cdc_matches_batch_replay(spark, duck, tmp_path):
    from etl_spark.io import load

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 150)):
        rows = pdf.iloc[chunk : chunk + 150]
        write_event_file(rows, src / f"b{i:04d}.json")
    # Redeliver the FIRST batch at the end: stale rows — including
    # upserts for keys deleted SINCE — must not change any key's state.
    (src / "b9999.json").write_text((src / "b0000.json").read_text())

    changelog = events_as_changelog(
        read_event_stream(spark, str(src)), CDC_DELETE_TYPE
    )
    q = drain(cdc_apply_stream(changelog), "cdc_apply", "update")
    try:
        # Update-mode: the final state per key is its newest emission;
        # collect() order isn't guaranteed, so pick by (ts, event_id)
        # version rather than row order.
        rows = spark.sql("SELECT * FROM cdc_apply").collect()
        best: dict[int, tuple] = {}
        for r in rows:
            cur = best.get(r["user_id"])
            key = (r["ts_us"], r["event_id"])
            if cur is None or key >= cur[0]:
                best[r["user_id"]] = (key, r["op"], r["value"], r["event_id"])
        final = {u: (v[3], v[1], v[2]) for u, v in best.items()}
    finally:
        q.stop()

    want = {
        u: (eid, op, val)
        for u, eid, op, val in duck.execute(
            f"""
            SELECT user_id, event_id,
                   CASE WHEN event_type = '{CDC_DELETE_TYPE}'
                        THEN 'D' ELSE 'U' END AS op,
                   value
            FROM (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM events
            ) WHERE rn = 1
            """
        ).fetchall()
    }
    assert final == want
    assert any(op == "D" for _, op, _ in want.values()), (
        "fixture must exercise the tombstone path"
    )


def test_cdc_table_sink_matches_batch_query(spark, duck, tmp_path):
    """The production table sink: drained stream -> parquet table; the
    served view must equal the batch query, and the raw table must
    RETAIN tombstones (the resurrection precondition)."""
    from etl_spark.io import load
    from etl_spark.plans.lakehouse import cdc_apply_events
    from etl_spark.streaming.cdc import (
        read_cdc_table,
        read_cdc_table_raw,
        run_cdc_stream_to_table,
    )

    events = load(spark, SF_DIR, "events")
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 200)):
        rows = pdf.iloc[chunk : chunk + 200]
        write_event_file(rows, src / f"b{i:04d}.json")

    changelog = events_as_changelog(
        read_event_stream(spark, str(src)), CDC_DELETE_TYPE
    )
    table = tmp_path / "cdc_table"
    run_cdc_stream_to_table(spark, changelog, tmp_path / "ckpt", table)

    served = {
        (r["user_id"], r["event_id"], r["value"])
        for r in read_cdc_table(spark, table).collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["value"])
        for r in cdc_apply_events(spark, SF_DIR).collect()
    }
    assert served == want
    raw_ops = {
        r["op"] for r in read_cdc_table_raw(spark, table).collect()
    }
    assert raw_ops == {"U", "D"}  # tombstones live in the table


def test_cdc_table_vacuum_keeps_published_state(spark, tmp_path):
    """The versioned sink accumulates one immutable table copy per
    batch; vacuum must remove everything below the retention horizon
    while the served view stays byte-identical."""
    from etl_spark.io import load
    from etl_spark.streaming.cdc import (
        _current_version,
        read_cdc_table,
        run_cdc_stream_to_table,
        vacuum_cdc_table,
    )

    events = load(spark, SF_DIR, "events").limit(1200)
    pdf = events.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    # 12 files / maxFilesPerTrigger=4 -> 3 micro-batches -> 3 versions
    for i, chunk in enumerate(range(0, len(pdf), 100)):
        rows = pdf.iloc[chunk : chunk + 100]
        write_event_file(rows, src / f"b{i:04d}.json")
    changelog = events_as_changelog(
        read_event_stream(spark, str(src)), CDC_DELETE_TYPE
    )
    table = tmp_path / "cdc_table"
    run_cdc_stream_to_table(spark, changelog, tmp_path / "ckpt", table)

    v = _current_version(table)
    assert v is not None and v >= 1  # multiple batches -> versions
    before = {
        (r["user_id"], r["event_id"]) for r in read_cdc_table(spark, table).collect()
    }
    removed = vacuum_cdc_table(table, keep_versions=1)
    assert removed == [f"v{k}" for k in range(v)]
    after = {
        (r["user_id"], r["event_id"]) for r in read_cdc_table(spark, table).collect()
    }
    assert after == before
    # idempotent
    assert vacuum_cdc_table(table, keep_versions=1) == []


def test_cdc_vacuum_numeric_order_and_orphan_grace(tmp_path):
    """Pure-filesystem fence for the vacuum's two retention edges:
    (1) removals come back in NUMERIC version order even past 10
    batches (lexicographic glob would sort v10 before v2), and (2) a
    FRESH above-pointer orphan — indistinguishable from the stream's
    in-flight write of the next batch — survives under the default
    grace window, while a stale one (crash leftover) is reaped once
    aged past it."""
    from etl_spark.streaming.cdc import _publish_version, vacuum_cdc_table

    table = tmp_path / "t"
    for k in range(13):  # v0..v12 — double digits force the edge
        (table / f"v{k}").mkdir(parents=True)
    _publish_version(table, 12)
    (table / "v13").mkdir()  # fresh orphan: may be the in-flight write

    removed = vacuum_cdc_table(table, keep_versions=2)
    assert removed == [f"v{k}" for k in range(11)]  # numeric, not lexic.
    assert (table / "v13").exists()  # inside grace -> untouched

    import os
    import time

    old = time.time() - 3600
    os.utime(table / "v13", (old, old))  # age it past the grace window
    assert vacuum_cdc_table(table, keep_versions=2) == ["v13"]
    assert sorted(p.name for p in table.glob("v*")) == ["v11", "v12"]
