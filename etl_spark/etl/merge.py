"""Incremental snapshot maintenance: batch MERGE of one new extraction
into a materialized latest-snapshot table.

The missing middle between ``run_pipeline``'s full recompute
(reference main.py:182 semantics: re-derive the S14 view over the
WHOLE raw zone every run) and the streaming file-source twin
(O(new files) but stateful): a real lakehouse maintains the snapshot
as a TABLE and merges each new ``<ts>`` partition in — upsert on
(repo_dir, file_id), newest extract_ts wins (S14's key and tiebreak,
reference main.py:149-157).

Plain parquet has no MERGE INTO, but hash-bucket partitioning buys the
same touched-files-only cost shape: the table is partitioned by
``kb = pmod(xxhash64(key), N_MERGE_BUCKETS)``; a merge

  1. reduces the incoming batch to one row per key (the same
     latest-wins window the full recompute uses),
  2. reads ONLY the bucket partitions the batch touches (partition
     pruning on ``kb IN (...)`` — the touched-id list is at most
     N_MERGE_BUCKETS integers, config-bounded by construction),
  3. merges batch-vs-bucket rows (one key-join-shaped window over
     |touched buckets| + |batch| rows),
  4. rewrites ONLY those bucket partitions (dynamic partition
     overwrite).

Per-merge cost is O(|batch| + |touched buckets|), never O(|table|) —
the plain-parquet twin of Delta/Iceberg MERGE file skipping. The batch
side holds to it too: ``load_extraction`` lists and reads only the new
``<ts>``'s run files (plus one stat per repo directory to resolve the
``<zone>/*/<ts>`` glob), never the earlier extractions. At 100 TB
you raise N_MERGE_BUCKETS so a bucket is a few files; the batch
usually touches a small subset and the rest of the table is neither
read nor written (fenced by the untouched-bucket-mtime test).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.etl.pipeline import _read_runs, snapshot_latest, to_records
from etl_spark.operators.ranking import first_per_key

# Bucket count for the materialized snapshot table. Small here so the
# tests exercise multi-bucket layouts; at scale this is sized so one
# bucket ~ a handful of parquet files.
N_MERGE_BUCKETS = 16

_BUCKET_COL = "kb"


def latest_wins_merge(
    current: DataFrame,
    batch: DataFrame,
    keys: list[str],
    order_cols: list[str],
    allow_schema_drift: bool = False,
) -> DataFrame:
    """Generic MERGE: one row per ``keys`` from ``current`` ∪ ``batch``,
    the row with the greatest ``order_cols`` (then batch-over-current
    for exact replays, making re-delivery of an already-merged row a
    byte-identical no-op) wins. Column sets must match unless
    ``allow_schema_drift`` — then the union is by name with missing
    columns null-filled on either side (ADD-COLUMN schema evolution:
    rows last written before the column existed read as NULL, the
    Delta/Iceberg additive-evolution contract; the versioned table
    passes this, the in-place table keeps the strict check).

    This is the upsert primitive: batch rows with unseen keys INSERT,
    newer rows UPDATE, stale rows are dropped — in one window over the
    union, no per-row driver logic.
    """
    if allow_schema_drift:
        tagged = current.withColumn("_src", F.lit(0)).unionByName(
            batch.withColumn("_src", F.lit(1)), allowMissingColumns=True
        )
    else:
        cols = current.columns
        tagged = current.select(*cols).withColumn(
            "_src", F.lit(0)
        ).unionByName(batch.select(*cols).withColumn("_src", F.lit(1)))
    return first_per_key(
        tagged, keys, *[F.col(c).desc() for c in order_cols], F.col("_src").desc()
    ).drop("_src")


def load_extraction(
    spark: SparkSession, workflows_dir: pathlib.Path, extract_ts: str
) -> DataFrame:
    """Record rows of ONE ``<ts>`` extraction across all repos — the
    merge's batch side. The shared reader's roots are that ``<ts>``'s
    ``runs`` directories, so Spark lists and reads only the new
    extraction's files; earlier extractions are never opened."""
    return to_records(_read_runs(spark, workflows_dir, extract_ts))


def _bucketed(records: DataFrame) -> DataFrame:
    return records.withColumn(
        _BUCKET_COL,
        F.pmod(F.xxhash64("repo_dir", "file_id"), F.lit(N_MERGE_BUCKETS)),
    )


def touched_buckets(batch_records: DataFrame) -> tuple[DataFrame, list[int]]:
    """A merge's front half: the batch reduced to one bucketed row per
    key, and the buckets it touches (a config-bounded collect: at most
    N_MERGE_BUCKETS distinct ints)."""
    batch = _bucketed(snapshot_latest(batch_records))
    return batch, [r[0] for r in batch.select(_BUCKET_COL).distinct().collect()]


def init_snapshot_table(records: DataFrame, table_path: pathlib.Path) -> None:
    """Materialize the latest-snapshot view as the bucket-partitioned
    table (full build — run once, or to re-seed after schema change)."""
    (
        _bucketed(snapshot_latest(records))
        .write.partitionBy(_BUCKET_COL)
        .mode("overwrite")
        .parquet(str(table_path))
    )


def read_snapshot_table(spark: SparkSession, table_path: pathlib.Path) -> DataFrame:
    return spark.read.parquet(str(table_path)).drop(_BUCKET_COL)


def _read_touched(
    spark: SparkSession, table_path: pathlib.Path, touched: list[int]
) -> DataFrame:
    """The merge's read side: ONLY the touched bucket partitions.
    ``kb`` is a partition directory column, so the IN filter lands in
    PartitionFilters — untouched buckets are skipped at file listing,
    not row filtering (plan-asserted in tests)."""
    return spark.read.parquet(str(table_path)).filter(
        F.col(_BUCKET_COL).isin(touched)
    )


def merge_into_snapshot_table(
    spark: SparkSession, table_path: pathlib.Path, batch_records: DataFrame
) -> None:
    """MERGE one extraction's records into the materialized table.

    Reads and rewrites ONLY the bucket partitions the batch touches;
    the merged rows are eagerly materialized (localCheckpoint) before
    the overwrite because the write target IS the read source — the
    one self-overwrite hazard of a path-based table.
    """
    batch, touched = touched_buckets(batch_records)
    if not touched:
        return
    current = _read_touched(spark, table_path, touched)
    merged = latest_wins_merge(
        current,
        batch,
        keys=["repo_dir", "file_id"],
        order_cols=["extract_ts"],
    ).localCheckpoint(eager=True)
    (
        merged.write.partitionBy(_BUCKET_COL)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(str(table_path))
    )
