"""Spark-native snapshot pipeline (reference S12-S18).

The reference computes its derived view with a newest-first directory
walk and a seen-set (main.py:144-176); here the same semantics are a
DataFrame plan over the whole raw zone:

    read every <root>/*/<ts>/runs directory (S12/S13: one multi-root
        scan of the *.json files, partitions recovered from file paths)
    → latest-snapshot-wins dedup per (repo, run file) (S14), through
        operators.ranking.first_per_key — the engine's one S14 operator
    → 9-column flatten with nested repository.name (S15/S16)
    → deterministic total order (repo asc, ts desc, filename desc)
    → single-file CSV export, header + null→empty (S17)

Fidelity fine print honored (SURVEY.md §2.4):
* dedup key is scoped per repo DIRECTORY and keyed on the run file
  name — cross-repo id collisions are NOT deduped (items 1-2);
* within one <ts> the reference's tiebreak is string-descending on
  "<id>.json", so "9.json" > "10.json" (I2) — we sort on the filename
  string to match;
* null conclusion → empty CSV cell; exact header (items 3-4);
* a final explicit orderBy before export (item 5): shuffles are
  unordered, determinism must be declared.
* Deviation (documented, SURVEY.md §7 risk 4): on an empty raw zone
  the reference crashes (StopIteration in write_csv, main.py:21);
  this engine writes a header-only CSV.

Scale: the scan's roots are the `runs` DIRECTORIES, not the files in
them. Spark lists its roots every time it builds a frame, in a Spark
job with one task per root once there are more than 32; with one root
per run file that job ran on every build, one task per file. One root
per (repo, <ts>) keeps the listing on the driver; _read_runs says
where that stops. The window dedup shuffles once on (repo, file_id) —
exactly the key the data is already laid out by; at 100 TB the raw
zone would be `repo=*/extract_ts=*` hive partitions and the scan would
prune on both. The coalesce(1) is export-only (a CSV handed to a
human); the deduped snapshot itself stays distributed.
"""

from __future__ import annotations

import glob
import os
import pathlib
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.etl.ingest import RetryingSession
from etl_spark.etl.raw_zone import extract_snapshot, utcnow
from etl_spark.operators.ranking import first_per_key

RUN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("head_sha", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("conclusion", T.StringType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("updated_at", T.StringType()),
        T.StructField("run_started_at", T.StringType()),
        T.StructField(
            "repository", T.StructType([T.StructField("name", T.StringType())])
        ),
    ]
)

RECORD_COLUMNS = (
    "id",
    "repo",
    "name",
    "head_sha",
    "status",
    "conclusion",
    "created_at",
    "updated_at",
    "run_started_at",
)

_PATH_RE = r"/([^/]+)/([^/]+)/runs/([^/]+)\.json$"


def _read_runs(spark: SparkSession, workflows_dir: pathlib.Path, ts: str) -> DataFrame:
    """The raw zone's one reader: every run file under
    ``<zone>/*/<ts>/runs``, with repo_dir, extract_ts and file_id
    recovered from the file path. ``ts="*"`` reads every extraction.

    Spark gets the globbed ``runs`` directories as roots, never the
    glob itself (a glob root makes Spark probe it for a streaming
    sink's metadata and log the failed lookup), and keeps their
    ``*.json`` files (``pathGlobFilter``), so a frame build lists one
    root per (repo, <ts>) instead of one per run file. While there are
    at most 32 roots (the default
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``) Spark
    lists them on the driver, with no Spark job. Past that it lists in
    parallel again: one job per frame build, one task per directory
    rather than one per file.
    """
    roots = sorted(glob.glob(str(workflows_dir / "*" / ts / "runs")))
    if not roots:
        # Build from a COPY of the fields: StructType.add mutates in
        # place and would permanently pollute the module-level schema.
        empty_schema = T.StructType(
            RUN_SCHEMA.fields
            + [
                T.StructField("repo_dir", T.StringType()),
                T.StructField("extract_ts", T.StringType()),
                T.StructField("file_id", T.StringType()),
            ]
        )
        return spark.createDataFrame([], empty_schema)
    path = F.input_file_name()
    return (
        spark.read.schema(RUN_SCHEMA)
        .option("pathGlobFilter", "*.json")
        .json(roots)
        .withColumn("repo_dir", F.regexp_extract(path, _PATH_RE, 1))
        .withColumn("extract_ts", F.regexp_extract(path, _PATH_RE, 2))
        .withColumn("file_id", F.regexp_extract(path, _PATH_RE, 3))
    )


def load_workflow_runs(spark: SparkSession, workflows_dir: pathlib.Path) -> DataFrame:
    """One scan over every extraction of every repo (S12/S13/S15).

    The union-across-repos and the newest-first ordering of the
    reference are replaced by a single multi-root read plus partition
    columns recovered from the file path; ordering becomes a logical
    concern (window in snapshot_latest, orderBy at export).
    """
    return _read_runs(spark, workflows_dir, "*")


def snapshot_latest(runs: DataFrame) -> DataFrame:
    """S14: latest-snapshot-wins dedup — ``first_per_key``, the one
    S14 operator, ordered by extract_ts desc.

    Key (repo_dir, file_id) — the run's file name scoped to its repo
    directory, exactly the reference's seen-set key (main.py:149-157).
    <ts> strings are fixed-width so string-desc == chronological-desc.
    """
    return first_per_key(
        runs, ["repo_dir", "file_id"], F.col("extract_ts").desc()
    )


def to_records(runs: DataFrame) -> DataFrame:
    """S16: project the 9-column record, flattening repository.name."""
    return runs.select(
        "id",
        F.col("repository.name").alias("repo"),
        "name",
        "head_sha",
        "status",
        "conclusion",
        "created_at",
        "updated_at",
        "run_started_at",
        "repo_dir",
        "extract_ts",
        "file_id",
    )


def snapshot_records(spark: SparkSession, workflows_dir: pathlib.Path) -> DataFrame:
    """The derived view: latest state of every run ever observed."""
    return to_records(snapshot_latest(load_workflow_runs(spark, workflows_dir)))


def export_csv(records: DataFrame, out_path: pathlib.Path) -> None:
    """S17: deterministic single-file CSV with header, null→empty.

    Reference output order (main.py:144-150): repo dirs ascending,
    then files newest-first with a lexicographic-desc tiebreak on the
    file name. coalesce(1) is safe here by contract: the export is a
    human-facing summary; the distributed form is snapshot_records.
    """
    ordered = records.orderBy(
        F.col("repo_dir").asc(),
        F.col("extract_ts").desc(),
        F.col("file_id").desc(),
    ).select(*RECORD_COLUMNS)
    with tempfile.TemporaryDirectory() as tmp:
        out_dir = os.path.join(tmp, "csv")
        (
            ordered.coalesce(1)
            .write.option("header", True)
            .option("emptyValue", "")
            .mode("overwrite")
            .csv(out_dir)
        )
        parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
        out_path.parent.mkdir(parents=True, exist_ok=True)
        if parts:
            shutil.move(parts[0], out_path)
        else:  # empty input: header-only file (documented deviation)
            out_path.write_text(",".join(RECORD_COLUMNS) + "\n")


def run_pipeline(
    session,
    workflows_dir: pathlib.Path,
    spark: SparkSession,
    now_function=utcnow,
) -> None:
    """S18: E → T → L. The transform reads back from disk on purpose —
    the raw zone (all historical extractions) is the source of truth,
    not this run's in-memory data (reference main.py:179-185)."""
    extract_snapshot(RetryingSession(session), workflows_dir, now_function())
    records = snapshot_records(spark, workflows_dir)
    export_csv(records, workflows_dir / "workflow_runs.csv")
