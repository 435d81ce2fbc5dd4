"""Streaming delete-aware CDC apply: the streaming twin of
``plans/lakehouse.py::cdc_apply_events``.

``latest_wins.py`` maintains each key's newest observation (S14,
reference main.py:149-157) but cannot REMOVE a key: real changelogs
(Debezium, Delta CDF) carry DELETE tombstones, and a consumer must
keep tombstones in state — dropping a key on delete would let a
late/redelivered stale upsert resurrect it incorrectly. This operator
keeps each key's newest (row, op) as a built-in streaming aggregate,
``max(struct(ts_us, event_id, value, op))``, and emits every touched
key's current (row, op) so a downstream sink can upsert op='U' rows
and delete op='D' keys.

Tiebreak contract matches the batch form exactly: the struct compares
later ts first, then higher event_id, so equal ts → higher event_id
wins; redelivery of an already-applied row is a no-op (max is
deterministic, not arrival-order). ``value`` passes through
untouched, NaN and null included, as in the batch form. State is O(1)
per key; tombstones stay in state (compaction/TTL is a separate
retention policy, as in the batch twin's docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_SPARK
from etl_spark.streaming.sinks import drain


def cdc_apply_stream(changelog: DataFrame) -> DataFrame:
    """Maintain per-user latest (row, op) over a changelog stream with
    columns (user_id, event_id, ts, value, op) where op ∈ {'U','D'}.
    Output: (user_id, event_id, ts_us, event_ts, value, op)."""
    newest = F.max(
        F.struct(
            F.unix_micros("ts").alias("ts_us"), "event_id", "value", "op"
        )
    ).alias("w")
    # ts_us carries FULL microsecond precision downstream: the table
    # sink tiebreaks on it, so its ordering must be exactly the
    # ordering the aggregate used. event_ts (seconds, session time
    # zone) is display parity with the batch query only — never
    # compare it.
    return changelog.groupBy("user_id").agg(newest).select(
        "user_id",
        "w.event_id",
        "w.ts_us",
        F.date_format(F.timestamp_micros("w.ts_us"), TS_FMT_SPARK)
        .alias("event_ts"),
        "w.value",
        "w.op",
    )


def events_as_changelog(events: DataFrame, delete_type: str) -> DataFrame:
    """Map events (a stream or a batch table) to the generic changelog
    shape: ``delete_type`` events are tombstones, everything else
    upserts. The batch CDC queries in ``plans/lakehouse.py`` read the
    events table through this same projection."""
    return events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(F.col("event_type") == delete_type, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )


def run_cdc_stream_to_table(
    spark,
    changelog: DataFrame,
    checkpoint_dir,
    table_path,
) -> None:
    """PRODUCTION sink for the CDC stream: maintain a keyed parquet
    table from the update-mode emissions inside foreachBatch — upsert
    on user_id, greatest (ts_us, event_id) wins (the SAME microsecond
    ordering the in-stream state compares, so the table cannot diverge
    from the batch replay on sub-second ties), TOMBSTONES KEPT in the
    table (the serving filter lives in ``read_cdc_table``, so a later
    batch can still resurrect or re-delete any key). Nothing is
    collected to the driver.

    Exactly-once table state from at-least-once foreachBatch, made
    crash-safe with the manifest pattern of ``etl/versioned.py``: each
    batch writes its merged table to a FRESH immutable directory
    ``v<k>`` and publishes it with an atomic pointer rename — the
    prior version is never touched, so a crash mid-write leaves the
    published table intact and the checkpointed replay simply
    overwrites the unpublished orphan directory. Emissions are
    deterministic and latest-wins replays are no-ops, so replaying a
    committed batch reproduces the same table state.

    This twin rewrites the whole (key-cardinality-sized) table per
    batch for simplicity; the bucket-partitioned touched-files-only
    form is etl/merge.py's — at scale the sink merges into that table
    instead, same upsert contract.
    """
    import pathlib

    from etl_spark.etl.merge import latest_wins_merge

    table = pathlib.Path(table_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cur_v = _current_version(table)
        new_v = 0 if cur_v is None else cur_v + 1
        if cur_v is None:
            merged = batch_df
        else:
            current = batch_df.sparkSession.read.parquet(
                str(table / f"v{cur_v}")
            )
            merged = latest_wins_merge(
                current,
                batch_df,
                keys=["user_id"],
                order_cols=["ts_us", "event_id"],
            )
        # mode=overwrite: only the pointer rename publishes, so an
        # existing v<new_v> can only be an orphan from a crash mid-write
        # of this same (replayed) batch — safe to clobber.
        merged.write.mode("overwrite").parquet(str(table / f"v{new_v}"))
        _publish_version(table, new_v)

    drain(
        cdc_apply_stream(changelog),
        "cdc_stream_to_table",
        "update",
        sink=sink,
        checkpoint=checkpoint_dir,
    )


_POINTER = "_current.json"


def _current_version(table) -> int | None:
    import json
    import pathlib

    p = pathlib.Path(table) / _POINTER
    if not p.exists():
        return None
    return json.loads(p.read_text())["version"]


def _publish_version(table, version: int) -> None:
    import json
    import pathlib

    table = pathlib.Path(table)
    table.mkdir(parents=True, exist_ok=True)
    tmp = table / (_POINTER + ".tmp")
    tmp.write_text(json.dumps({"version": version}))
    tmp.rename(table / _POINTER)  # the commit point (atomic on POSIX)


def read_cdc_table_raw(spark, table_path) -> DataFrame:
    """The published table version, tombstones included."""
    v = _current_version(table_path)
    if v is None:
        raise FileNotFoundError(f"no published version under {table_path}")
    import pathlib

    return spark.read.parquet(str(pathlib.Path(table_path) / f"v{v}"))


def read_cdc_table(spark, table_path) -> DataFrame:
    """The served view: tombstoned keys hidden, exactly like the batch
    query's final filter."""
    return read_cdc_table_raw(spark, table_path).filter(F.col("op") == "U")


def vacuum_cdc_table(
    table_path, keep_versions: int = 1, orphan_grace_s: float = 600.0
) -> list[str]:
    """Retention for the versioned sink: delete version directories
    below the newest ``keep_versions`` (the published version is
    always retained). The atomic-pointer publish makes every batch an
    immutable full-table version — crash-safe, but unbounded without
    this: after N batches the directory holds N table copies. Returns
    the removed directory names, numerically ordered.

    Unpublished orphans ABOVE the pointer (a crash between data write
    and publish) are removed only when older than ``orphan_grace_s``
    seconds: a directory above the pointer younger than the grace
    window may be the stream's in-flight ``foreachBatch`` write of
    v<cur+1>, and rmtree-ing it would fail that batch (recoverable
    via replay, but avoidable). Below-pointer removals are always
    safe — the published pointer has moved past them and readers only
    ever resolve through the pointer. Vacuum is safe to run
    concurrently with the single writer under the default grace; with
    ``orphan_grace_s=0`` it must only run while the stream is
    stopped."""
    import pathlib
    import shutil
    import time

    table = pathlib.Path(table_path)
    v = _current_version(table)
    if v is None:
        return []
    keep = set(range(max(0, v - keep_versions + 1), v + 1))
    versioned = []
    for d in table.glob("v*"):
        try:
            versioned.append((int(d.name[1:]), d))
        except ValueError:
            continue
    now = time.time()
    removed = []
    for k, d in sorted(versioned):
        if k in keep:
            continue
        if k > v and now - d.stat().st_mtime < orphan_grace_s:
            continue  # possibly the in-flight write of the next batch
        shutil.rmtree(d)
        removed.append(d.name)
    return removed
