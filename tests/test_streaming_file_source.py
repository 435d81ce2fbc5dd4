"""File-source streaming twin of the reference ETL: readStream over
the S11 raw-zone layout, latest-snapshot-wins in keyed state, parity
with the batch pipeline (etl/pipeline.py snapshot_records) on the
overlapping-timestamp golden — the scenario where run 2 is extracted
twice and only the newer "completed" version may survive — plus the
per-repo dedup scoping fine print (SURVEY §2.4 item 1)."""

from __future__ import annotations

import json
import pathlib

from etl_spark.etl.pipeline import snapshot_records
from etl_spark.streaming.file_source import run_snapshot_stream


def make_run(run_id: int, repo: str, status: str = "completed") -> dict:
    return {
        "id": run_id,
        "name": f"ci-{run_id}",
        "head_sha": f"sha{run_id}",
        "status": status,
        "conclusion": "success" if status == "completed" else None,
        "created_at": "2025-01-01T00:00:00Z",
        "updated_at": "2025-01-02T00:00:00Z",
        "run_started_at": "2025-01-01T00:00:01Z",
        "repository": {"name": repo},
    }


def write_run(root: pathlib.Path, repo: str, ts: str, run: dict) -> None:
    p = root / repo / ts / "runs" / f"{run['id']}.json"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(run))


def _golden_zone(root: pathlib.Path) -> None:
    old, new = "20250101-000000Z", "20250102-000000Z"
    write_run(root, "repo_1", old, make_run(1, "repo_1"))
    write_run(root, "repo_1", old, make_run(2, "repo_1", status="running"))
    write_run(root, "repo_1", new, make_run(2, "repo_1"))
    write_run(root, "repo_1", new, make_run(3, "repo_1", status="running"))
    # Same run id in another repo: must NOT dedup across repos.
    write_run(root, "repo_2", old, make_run(2, "repo_2", status="running"))


def test_stream_snapshot_matches_batch_on_overlap_golden(spark, tmp_path):
    zone = tmp_path / "zone"
    _golden_zone(zone)
    # maxFilesPerTrigger=1 -> five micro-batches, so the repo_1/run-2
    # winner genuinely flows THROUGH the state store across batches
    # (a single-batch run would never exercise the update path).
    got = run_snapshot_stream(
        spark, zone, tmp_path / "ckpt", max_files_per_trigger=1
    )
    want = {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in snapshot_records(spark, zone).collect()
    }
    assert got.keys() == want.keys()
    for key in want:
        assert got[key] == want[key], key
    # And the golden's own facts, independently of the batch engine:
    assert got[("repo_1", "2")]["status"] == "completed"
    assert got[("repo_1", "2")]["extract_ts"] == "20250102-000000Z"
    assert got[("repo_2", "2")]["status"] == "running"
    assert len(got) == 4


def test_stream_is_incremental_across_restarts(spark, tmp_path):
    # The point of the twin: a SECOND drain after a new extraction
    # lands processes only the new files (checkpointed file index),
    # and its updates converge to the batch answer over the grown
    # zone — the reference re-walks everything instead.
    zone = tmp_path / "zone"
    ckpt = tmp_path / "ckpt"
    old = "20250101-000000Z"
    write_run(zone, "repo_1", old, make_run(1, "repo_1", status="running"))
    first = run_snapshot_stream(spark, zone, ckpt)
    assert first[("repo_1", "1")]["status"] == "running"

    new = "20250103-000000Z"
    write_run(zone, "repo_1", new, make_run(1, "repo_1"))
    second = run_snapshot_stream(spark, zone, ckpt)
    # Only the touched key re-emits, with state carried over restart.
    assert set(second) == {("repo_1", "1")}
    assert second[("repo_1", "1")]["status"] == "completed"
    assert second[("repo_1", "1")]["extract_ts"] == new
    merged = {**first, **second}
    want = {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in snapshot_records(spark, zone).collect()
    }
    assert merged == want


def test_stream_snapshot_keeps_ids_when_a_run_lacks_id(spark, tmp_path):
    # One micro-batch holds run 8 twice: an older extraction whose file
    # lacks `id` and a newer one with an id above 2**53 (where a float
    # round trip loses the last digit), plus run 9 with no `id` at all.
    # The winners keep exact bigint ids and null for the missing one,
    # row for row as the batch read gives them.
    zone = tmp_path / "zone"
    old, new = "20250101-000000Z", "20250102-000000Z"
    big_id = 2**53 + 1

    def put(ts, run_id, run):
        p = zone / "repo_1" / ts / "runs" / f"{run_id}.json"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(run))

    def without_id(run):
        return {k: v for k, v in run.items() if k != "id"}

    put(old, 8, without_id(make_run(8, "repo_1", status="running")))
    put(new, 8, {**make_run(8, "repo_1"), "id": big_id})
    put(new, 9, without_id(make_run(9, "repo_1")))
    got = run_snapshot_stream(spark, zone, tmp_path / "ckpt")
    want = {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in snapshot_records(spark, zone).collect()
    }
    assert got == want
    assert got[("repo_1", "8")]["id"] == big_id
    assert got[("repo_1", "9")]["id"] is None


# --------------------------------------------------------------------------
# Production sink: the snapshot maintained as a parquet TABLE by a
# keyed upsert in foreachBatch — parity asserted against the FILES,
# not driver state.
# --------------------------------------------------------------------------


def _read_table(spark, table):
    from etl_spark.etl.merge import read_snapshot_table

    return {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in read_snapshot_table(spark, table).collect()
    }


def test_table_sink_matches_batch_on_overlap_golden(spark, tmp_path):
    from etl_spark.streaming.file_source import run_snapshot_stream_to_table

    zone = tmp_path / "zone"
    table = tmp_path / "snapshot_table"
    _golden_zone(zone)
    # maxFilesPerTrigger=1 -> multiple micro-batches, so later batches
    # genuinely MERGE over earlier batches' table writes.
    run_snapshot_stream_to_table(
        spark, zone, tmp_path / "ckpt", table, max_files_per_trigger=1
    )
    got = _read_table(spark, table)
    want = {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in snapshot_records(spark, zone).collect()
    }
    assert {k: {c: v for c, v in r.items()} for k, r in got.items()} == {
        k: {c: v for c, v in r.items()} for k, r in want.items()
    }
    assert got[("repo_1", "2")]["status"] == "completed"
    assert got[("repo_1", "2")]["extract_ts"] == "20250102-000000Z"


def test_table_sink_incremental_restart_and_full_replay(spark, tmp_path):
    from etl_spark.streaming.file_source import run_snapshot_stream_to_table

    zone = tmp_path / "zone"
    ckpt = tmp_path / "ckpt"
    table = tmp_path / "snapshot_table"
    old = "20250101-000000Z"
    write_run(zone, "repo_1", old, make_run(1, "repo_1", status="running"))
    run_snapshot_stream_to_table(spark, zone, ckpt, table)
    assert _read_table(spark, table)[("repo_1", "1")]["status"] == "running"

    # Restart with new data: only new files processed, table converges.
    new = "20250103-000000Z"
    write_run(zone, "repo_1", new, make_run(1, "repo_1"))
    run_snapshot_stream_to_table(spark, zone, ckpt, table)
    after = _read_table(spark, table)
    assert after[("repo_1", "1")]["status"] == "completed"
    assert after[("repo_1", "1")]["extract_ts"] == new
    want = {
        (r["repo_dir"], r["file_id"]): r.asDict()
        for r in snapshot_records(spark, zone).collect()
    }
    assert after == want

    # Redelivery fence: a FRESH checkpoint replays every file from
    # scratch against the already-maintained table — at-least-once
    # delivery into the idempotent upsert must leave it unchanged.
    run_snapshot_stream_to_table(spark, zone, tmp_path / "ckpt2", table)
    assert _read_table(spark, table) == after
