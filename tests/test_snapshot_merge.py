"""Incremental snapshot maintenance (batch MERGE) must equal the full
recompute — across sequential extractions, including the reference's
overlapping-timestamp scenario — while reading and rewriting ONLY the
bucket partitions the batch touches."""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from etl_spark.etl.merge import (
    _BUCKET_COL,
    _read_touched,
    init_snapshot_table,
    latest_wins_merge,
    load_extraction,
    merge_into_snapshot_table,
    read_snapshot_table,
)
from etl_spark.etl.pipeline import snapshot_records
from tests.test_etl_pipeline import input_paths, json_roots, make_run, write_run  # noqa: F401


def _sorted_rows(df):
    return sorted(
        tuple(r) for r in df.select(*sorted(df.columns)).collect()
    )


# --------------------------------------------------------------------------
# The upsert primitive.
# --------------------------------------------------------------------------


def test_latest_wins_merge_insert_update_stale_drop(spark):
    cur = spark.createDataFrame(
        [("r", "1", "t1", "old"), ("r", "2", "t2", "keep")],
        ["repo_dir", "file_id", "extract_ts", "status"],
    )
    batch = spark.createDataFrame(
        [
            ("r", "1", "t2", "new"),    # newer -> UPDATE
            ("r", "2", "t1", "stale"),  # older -> dropped
            ("r", "3", "t1", "ins"),    # unseen key -> INSERT
        ],
        ["repo_dir", "file_id", "extract_ts", "status"],
    )
    got = {
        r["file_id"]: (r["extract_ts"], r["status"])
        for r in latest_wins_merge(
            cur, batch, ["repo_dir", "file_id"], ["extract_ts"]
        ).collect()
    }
    assert got == {"1": ("t2", "new"), "2": ("t2", "keep"), "3": ("t1", "ins")}


def test_latest_wins_merge_replay_is_noop(spark):
    cur = spark.createDataFrame(
        [("r", "1", "t1", "a")], ["repo_dir", "file_id", "extract_ts", "status"]
    )
    merged = latest_wins_merge(
        cur, cur, ["repo_dir", "file_id"], ["extract_ts"]
    )
    assert _sorted_rows(merged) == _sorted_rows(cur)


# --------------------------------------------------------------------------
# Maintained table == full recompute across sequential extractions,
# including the overlapping-timestamp golden (reference
# test_main.py:203-222: run 2 extracted twice, newer status wins).
# --------------------------------------------------------------------------


def test_merged_table_equals_full_recompute_across_extractions(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "snapshot_table"
    t1, t2, t3 = "20250101-000000Z", "20250102-000000Z", "20250103-000000Z"

    # Extraction 1 seeds the table.
    write_run(zone, "repo_1", t1, make_run(1, "repo_1", status="completed"))
    write_run(zone, "repo_1", t1, make_run(2, "repo_1", status="running"))
    write_run(zone, "repo_2", t1, make_run(2, "repo_2", status="queued"))
    init_snapshot_table(load_extraction(spark, zone, t1), table)

    # Extraction 2: run 2 re-extracted (the overlap golden) + a new run.
    write_run(zone, "repo_1", t2, make_run(2, "repo_1", status="completed"))
    write_run(zone, "repo_1", t2, make_run(3, "repo_1", status="running"))
    merge_into_snapshot_table(spark, table, load_extraction(spark, zone, t2))

    # Extraction 3: only repo_2 moves.
    write_run(zone, "repo_2", t3, make_run(2, "repo_2", status="completed"))
    merge_into_snapshot_table(spark, table, load_extraction(spark, zone, t3))

    got = read_snapshot_table(spark, table)
    want = snapshot_records(spark, zone)
    assert _sorted_rows(got) == _sorted_rows(want)
    by_key = {
        (r["repo_dir"], r["id"]): (r["status"], r["extract_ts"])
        for r in got.collect()
    }
    # The overlap golden: newer extraction of run 2 wins, per repo.
    assert by_key[("repo_1", 2)] == ("completed", t2)
    assert by_key[("repo_2", 2)] == ("completed", t3)
    assert by_key[("repo_1", 1)] == ("completed", t1)


def test_replaying_a_merged_partition_leaves_table_identical(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "snapshot_table"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    write_run(zone, "r", t1, make_run(1, "r", status="running"))
    write_run(zone, "r", t2, make_run(1, "r", status="completed"))
    init_snapshot_table(load_extraction(spark, zone, t1), table)
    merge_into_snapshot_table(spark, table, load_extraction(spark, zone, t2))
    before = _sorted_rows(read_snapshot_table(spark, table))
    # Idempotent redelivery: merging t2 again must change nothing —
    # and merging the OLDER t1 again must not resurrect stale rows.
    merge_into_snapshot_table(spark, table, load_extraction(spark, zone, t2))
    merge_into_snapshot_table(spark, table, load_extraction(spark, zone, t1))
    assert _sorted_rows(read_snapshot_table(spark, table)) == before


def test_empty_extraction_is_a_noop(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "snapshot_table"
    t1 = "20250101-000000Z"
    write_run(zone, "r", t1, make_run(1, "r"))
    init_snapshot_table(load_extraction(spark, zone, t1), table)
    before = _sorted_rows(read_snapshot_table(spark, table))
    merge_into_snapshot_table(
        spark, table, load_extraction(spark, zone, "20990101-000000Z")
    )
    assert _sorted_rows(read_snapshot_table(spark, table)) == before


# --------------------------------------------------------------------------
# The scale contract: touched-buckets-only read AND write.
# --------------------------------------------------------------------------


def test_load_extraction_scans_only_its_own_files(spark, tmp_path, json_roots):
    # The batch side of the merge lists and reads ONE <ts>'s run files:
    # an earlier extraction's files are not in the scan at all (a
    # row filter on the path-derived extract_ts would still read them),
    # and a stray non-JSON file in a runs directory is not either.
    zone = tmp_path / "zone"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    for i in range(3):
        write_run(zone, "repo_1", t1, make_run(i, "repo_1"))
    write_run(zone, "repo_2", t1, make_run(1, "repo_2"))
    write_run(zone, "repo_1", t2, make_run(1, "repo_1", status="completed"))
    write_run(zone, "repo_2", t2, make_run(5, "repo_2"))
    (zone / "repo_1" / t2 / "runs" / "notes.txt").write_text("not a run")
    for ts in (t1, t2):
        json_roots.clear()
        want = {str(p) for p in zone.glob(f"*/{ts}/runs/*.json")}
        assert input_paths(load_extraction(spark, zone, ts)) == want, ts
        assert json_roots == sorted(str(p) for p in zone.glob(f"*/{ts}/runs")), ts


def test_merge_reads_and_rewrites_only_touched_buckets(spark, tmp_path):
    zone = tmp_path / "zone"
    table = tmp_path / "snapshot_table"
    t1, t2 = "20250101-000000Z", "20250102-000000Z"
    # Enough keys to populate several bucket partitions.
    for i in range(40):
        write_run(zone, "r", t1, make_run(i, "r", status="running"))
    init_snapshot_table(load_extraction(spark, zone, t1), table)

    # One-key batch -> exactly one touched bucket.
    write_run(zone, "r", t2, make_run(7, "r", status="completed"))
    batch = load_extraction(spark, zone, t2)
    touched = batch.select(
        F.pmod(F.xxhash64("repo_dir", "file_id"), F.lit(16)).alias("kb")
    ).first()["kb"]

    bucket_dirs = sorted(pathlib.Path(table).glob(f"{_BUCKET_COL}=*"))
    assert len(bucket_dirs) > 2  # the layout actually spread out
    before = {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in bucket_dirs
    }

    merge_into_snapshot_table(spark, table, batch)

    after = {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in sorted(pathlib.Path(table).glob(f"{_BUCKET_COL}=*"))
    }
    touched_dir = f"{_BUCKET_COL}={touched}"
    assert after[touched_dir] != before[touched_dir]  # rewritten
    for name, files in before.items():  # every other bucket untouched
        if name != touched_dir:
            assert after[name] == files
    # And the winning row landed.
    rows = {
        r["file_id"]: r["status"]
        for r in read_snapshot_table(spark, table).collect()
    }
    assert rows["7"] == "completed" and len(rows) == 40

    # Read side: the touched-bucket filter is a PARTITION filter (file
    # skipping at listing), not a row filter over the whole table.
    plan = _read_touched(
        spark, table, [int(touched)]
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and _BUCKET_COL in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
