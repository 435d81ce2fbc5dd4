"""File-source streaming twin of the reference ETL (S11 raw zone →
S14 latest-snapshot-wins), closing the loop between the reference's
own batch pipeline and the streaming runtime with a source the
sandbox actually has.

The batch pipeline (etl/pipeline.py) re-reads the WHOLE raw zone and
re-runs the dedup window every time a new extraction lands. This twin
treats the same directory layout as an unbounded source:
``spark.readStream.json`` over the ``<zone>/*/<ts>/runs`` directories
discovers new extraction files as they land (checkpointed file index —
each file is processed exactly once), recovers the partition columns
from ``_metadata.file_path`` (the streaming-safe analog of
``input_file_name``), and maintains each (repo_dir, file_id) key's
newest observation as a built-in streaming aggregate,
``max(struct(extract_ts, id, repo, ...))`` — O(1) state per run,
O(new files) work per trigger, instead of O(whole zone) per re-run.

Winner contract is EXACTLY the batch window's (etl/pipeline.py
snapshot_latest): highest extract_ts wins; the <ts> strings are
fixed-width UTC so lexicographic max == chronological max, and one
(repo_dir, extract_ts, file_id) path exists at most once, so the
struct's first field alone decides the max. Field values and types
pass through as the batch read gives them (a run file without ``id``
yields a null bigint). Parity with the batch form on the
overlapping-timestamp golden is pinned row-for-row in
tests/test_streaming_file_source.py.

At scale: the raw zone is exactly the layout S11 writes (at 100 TB,
hive-partitioned repo=*/extract_ts=*); maxFilesPerTrigger bounds
per-batch work, and Trigger.AvailableNow drains a backlog in bounded
batches with the same exactly-once file accounting a long-running
stream gets. Reference: main.py:144-176 re-walks directories
newest-first per run; this replaces the re-walk with incremental
file discovery + keyed state.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.etl.pipeline import _PATH_RE, RUN_SCHEMA
from etl_spark.streaming.sinks import drain


def stream_workflow_runs(
    spark: SparkSession,
    workflows_dir: pathlib.Path,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """S12/S13/S15 as an unbounded scan: the streaming twin of
    load_workflow_runs — same ``runs``-directory roots and
    ``pathGlobFilter``, same schema, same path-derived partition
    columns, but files are discovered incrementally and each is read
    exactly once per checkpoint. The source re-lists its roots on
    every trigger, so directory roots keep that listing on the driver
    (while there are at most 32 of them) instead of a Spark job with
    one task per run file."""
    roots = str(workflows_dir / "*" / "*" / "runs")
    path = F.col("_metadata.file_path")
    return (
        spark.readStream.schema(RUN_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.json")
        .json(roots)
        .withColumn("repo_dir", F.regexp_extract(path, _PATH_RE, 1))
        .withColumn("extract_ts", F.regexp_extract(path, _PATH_RE, 2))
        .withColumn("file_id", F.regexp_extract(path, _PATH_RE, 3))
    )


def snapshot_latest_stream(runs: DataFrame) -> DataFrame:
    """S14 latest-snapshot-wins as keyed streaming state: one winner
    per (repo_dir, file_id), updated as extraction files arrive.
    Update-mode emission — every batch that touches a key emits the
    key's current winner; the last emission per key IS the snapshot.
    Output columns: repo_dir, file_id, extract_ts, then to_records'
    run fields (id, repo, name, ..., run_started_at).
    """
    newest = F.max(
        F.struct(
            "extract_ts",
            "id",
            F.col("repository.name").alias("repo"),
            "name",
            "head_sha",
            "status",
            "conclusion",
            "created_at",
            "updated_at",
            "run_started_at",
        )
    ).alias("w")
    return runs.groupBy("repo_dir", "file_id").agg(newest).select(
        "repo_dir", "file_id", "w.*"
    )


def run_snapshot_stream_to_table(
    spark: SparkSession,
    workflows_dir: pathlib.Path,
    checkpoint_dir: pathlib.Path,
    table_path: pathlib.Path,
    max_files_per_trigger: int = 4,
) -> None:
    """PRODUCTION sink: drain the raw zone and maintain the snapshot
    as a bucket-partitioned parquet table — each micro-batch's
    update-mode emissions are MERGED into the table inside
    foreachBatch (etl/merge.py: upsert on (repo_dir, file_id), newest
    extract_ts wins, touching only the bucket partitions the batch
    lands in). Nothing is ever collected to the driver; per-batch
    sink cost is O(|batch| + |touched buckets|).

    Exactly-once table state from foreachBatch's at-least-once
    contract: emissions are deterministic and ``latest_wins_merge``
    replays are no-ops, so a batch re-delivered after a crash-between-
    write-and-commit merges to the identical table (fenced by the
    redelivery test). Read the result with merge.read_snapshot_table.
    """
    from etl_spark.etl.merge import (
        init_snapshot_table,
        merge_into_snapshot_table,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if (pathlib.Path(table_path) / "_SUCCESS").exists():
            merge_into_snapshot_table(spark, table_path, batch_df)
        else:
            init_snapshot_table(batch_df, table_path)

    drain(
        snapshot_latest_stream(
            stream_workflow_runs(spark, workflows_dir, max_files_per_trigger)
        ),
        "snapshot_stream_to_table",
        "update",
        sink=sink,
        checkpoint=checkpoint_dir,
    )


def run_snapshot_stream(
    spark: SparkSession,
    workflows_dir: pathlib.Path,
    checkpoint_dir: pathlib.Path,
    max_files_per_trigger: int = 4,
) -> dict[tuple[str, str], dict]:
    """Drain the raw zone with Trigger.AvailableNow and return the
    final snapshot: {(repo_dir, file_id): record}. foreachBatch
    collects update-mode emissions in batch order, so the last
    emission per key is the winner — the same row the batch
    snapshot_records computes from a full re-read.

    TEST HARNESS ONLY: the driver-side collect is fine for the
    handful-of-rows parity fixtures but is exactly the shape that
    dies at scale — production uses run_snapshot_stream_to_table's
    keyed parquet upsert instead."""
    emissions: list[tuple[int, list[dict]]] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        emissions.append(
            (batch_id, [r.asDict() for r in batch_df.collect()])
        )

    drain(
        snapshot_latest_stream(
            stream_workflow_runs(spark, workflows_dir, max_files_per_trigger)
        ),
        "snapshot_stream",
        "update",
        sink=sink,
        checkpoint=checkpoint_dir,
    )
    snapshot: dict[tuple[str, str], dict] = {}
    for _bid, rows in sorted(emissions, key=lambda e: e[0]):
        for r in rows:
            snapshot[(r["repo_dir"], r["file_id"])] = r
    return snapshot
