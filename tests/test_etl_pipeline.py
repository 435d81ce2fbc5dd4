"""Raw zone + Spark snapshot pipeline tests, including the two
reference goldens (SURVEY.md §5 "must-port"): the overlapping-
timestamp dedup scenario and the end-to-end CSV with exact header and
null→empty conclusion."""

from __future__ import annotations

import datetime
import json
import pathlib
from urllib.parse import urlparse

import pytest
from pyspark.sql.readwriter import DataFrameReader

from etl_spark.etl.pipeline import (
    export_csv,
    load_workflow_runs,
    run_pipeline,
    snapshot_records,
)
from etl_spark.etl.raw_zone import extract_snapshot

from tests.test_ingest import DictSession, FakeResponse

ORG_REPOS_URL = "https://api.github.com/orgs/alartest/repos"


def runs_url(repo: str) -> str:
    return f"https://api.github.com/repos/alartest/{repo}/actions/runs"


RUN_TEMPLATE = {
    "id": None,
    "name": "My Workflow",
    "head_sha": "abc123",
    "status": "pending",
    "conclusion": None,
    "created_at": "2025-01-01T00:00:00Z",
    "updated_at": "2025-01-01T00:00:00Z",
    "run_started_at": "2025-01-01T00:00:00Z",
    "repository": {"name": None},
}


def make_run(run_id: int, repo: str, **overrides):
    return RUN_TEMPLATE | {"id": run_id, "repository": {"name": repo}} | overrides


# --------------------------------------------------------------------------
# Extraction layout (S8-S11).
# --------------------------------------------------------------------------


def test_extract_snapshot_layout():
    landed = {}

    def fake_write(text, path):
        landed[str(path)] = text

    session = DictSession(
        {
            ORG_REPOS_URL: FakeResponse([{"name": "repo_a"}], next_url="repos?page=2"),
            "repos?page=2": FakeResponse([{"name": "repo_b"}]),
            runs_url("repo_a"): FakeResponse(
                {"total_count": 2, "workflow_runs": [{"id": 1}, {"id": 2}]}
            ),
            runs_url("repo_b"): FakeResponse({"total_count": 0, "workflow_runs": []}),
        }
    )
    extract_snapshot(
        session,
        pathlib.Path("zone"),
        datetime.datetime(2025, 1, 1),
        write_function=fake_write,
    )
    assert landed == {
        "zone/repos/20250101-000000Z/pages/1.json": '[{"name": "repo_a"}]',
        "zone/repos/20250101-000000Z/pages/2.json": '[{"name": "repo_b"}]',
        "zone/repo_a/20250101-000000Z/pages/1.json": json.dumps(
            {"total_count": 2, "workflow_runs": [{"id": 1}, {"id": 2}]}
        ),
        "zone/repo_a/20250101-000000Z/runs/1.json": '{"id": 1}',
        "zone/repo_a/20250101-000000Z/runs/2.json": '{"id": 2}',
        "zone/repo_b/20250101-000000Z/pages/1.json": json.dumps(
            {"total_count": 0, "workflow_runs": []}
        ),
    }


# --------------------------------------------------------------------------
# Golden 1: latest-snapshot-wins across overlapping extractions (S14).
# Mirrors the reference scenario (test fixture: run 2 extracted twice,
# only the newer "completed" version may survive).
# --------------------------------------------------------------------------


def write_run(root: pathlib.Path, repo: str, ts: str, run: dict) -> None:
    p = root / repo / ts / "runs" / f"{run['id']}.json"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(run))


@pytest.fixture
def json_roots(monkeypatch):
    """Every root path handed to ``spark.read.json`` during the test."""
    seen: list[str] = []
    real = DataFrameReader.json

    def json_spy(self, path, *args, **kwargs):
        seen.extend([path] if isinstance(path, str) else path)
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "json", json_spy)
    return seen


def input_paths(df) -> set[str]:
    return {urlparse(f).path for f in df.inputFiles()}


def test_snapshot_latest_wins_on_overlapping_timestamps(spark, tmp_path):
    old, new = "20250101-000000Z", "20250102-000000Z"
    write_run(tmp_path, "repo_1", old, make_run(1, "repo_1", status="completed"))
    write_run(tmp_path, "repo_1", old, make_run(2, "repo_1", status="running"))
    write_run(tmp_path, "repo_1", new, make_run(2, "repo_1", status="completed"))
    write_run(tmp_path, "repo_1", new, make_run(3, "repo_1", status="running"))

    rows = {
        r["id"]: r
        for r in snapshot_records(spark, tmp_path).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[2]["status"] == "completed"  # newer extraction wins
    assert rows[2]["extract_ts"] == new
    assert rows[1]["status"] == "completed"
    assert rows[3]["status"] == "running"


def test_snapshot_dedup_is_scoped_per_repo(spark, tmp_path):
    # Same run id in two repos must NOT dedup across repos (SURVEY §2.4
    # item 1: the reference's seen-set is per repo directory).
    ts = "20250101-000000Z"
    write_run(tmp_path, "repo_1", ts, make_run(7, "repo_1"))
    write_run(tmp_path, "repo_2", ts, make_run(7, "repo_2"))
    records = snapshot_records(spark, tmp_path).collect()
    assert len(records) == 2


def test_lexicographic_filename_tiebreak(spark, tmp_path):
    # I2 fidelity: within one <ts>, ordering tiebreak is STRING-desc on
    # the file name, so "9.json" sorts before "10.json" in the export.
    ts = "20250101-000000Z"
    write_run(tmp_path, "r", ts, make_run(9, "r"))
    write_run(tmp_path, "r", ts, make_run(10, "r"))
    out = tmp_path / "out.csv"
    export_csv(snapshot_records(spark, tmp_path), out)
    lines = out.read_text().splitlines()
    assert [line.split(",")[0] for line in lines] == ["id", "9", "10"]


# --------------------------------------------------------------------------
# Golden 2: end-to-end pipeline → byte-exact CSV (S18).
# --------------------------------------------------------------------------


def test_run_pipeline_end_to_end_csv_golden(spark, tmp_path):
    run = make_run(1, "test_repo", head_sha="12345678")
    session = DictSession(
        {
            ORG_REPOS_URL: FakeResponse([{"name": "test_repo"}]),
            runs_url("test_repo"): FakeResponse(
                {"total_count": 1, "workflow_runs": [run]}
            ),
        }
    )
    run_pipeline(
        session,
        tmp_path,
        spark,
        now_function=lambda: datetime.datetime(2025, 1, 1),
    )

    raw_run = json.loads(
        (tmp_path / "test_repo" / "20250101-000000Z" / "runs" / "1.json").read_text()
    )
    assert raw_run == run

    csv_text = (tmp_path / "workflow_runs.csv").read_text()
    assert csv_text == (
        "id,repo,name,head_sha,status,conclusion,created_at,updated_at,run_started_at\n"
        "1,test_repo,My Workflow,12345678,pending,,"
        "2025-01-01T00:00:00Z,2025-01-01T00:00:00Z,2025-01-01T00:00:00Z\n"
    )


def test_empty_zone_twice_does_not_pollute_schema(spark, tmp_path):
    # Regression: the empty-zone schema was once built with
    # StructType.add, mutating the shared RUN_SCHEMA in place — a
    # second call crashed with AMBIGUOUS_REFERENCE.
    from etl_spark.etl.pipeline import RUN_SCHEMA

    n_fields = len(RUN_SCHEMA.fields)
    for _ in range(2):
        assert snapshot_records(spark, tmp_path / "none").count() == 0
    assert len(RUN_SCHEMA.fields) == n_fields


def test_export_csv_empty_zone_writes_header_only(spark, tmp_path):
    # Documented deviation: the reference crashes on an empty zone
    # (StopIteration, reference main.py:21); the engine degrades to a
    # header-only file.
    out = tmp_path / "empty.csv"
    export_csv(snapshot_records(spark, tmp_path / "nothing"), out)
    assert out.read_text() == (
        "id,repo,name,head_sha,status,conclusion,created_at,updated_at,run_started_at\n"
    )


def test_building_the_runs_frame_runs_no_listing_job(spark, tmp_path, json_roots):
    # 3 repos x 2 extractions x 6 runs: 36 run files, past Spark's
    # parallel-discovery threshold of 32 roots, in 6 runs directories.
    # File-level roots made every frame build launch a listing job
    # with one task per file; directory roots are listed on the driver.
    for repo in ("repo_a", "repo_b", "repo_c"):
        for ts in ("20250101-000000Z", "20250102-000000Z"):
            for i in range(6):
                write_run(tmp_path, repo, ts, make_run(i, repo))
    sc = spark.sparkContext
    group = f"build-runs-frame-{tmp_path.name}"
    sc.setJobGroup(group, "build the runs frame, no action")
    try:
        runs = load_workflow_runs(spark, tmp_path)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert input_paths(runs) == {str(p) for p in tmp_path.glob("*/*/runs/*.json")}
    # The runs directories themselves, not a glob over them: Spark
    # probes a glob root for streaming-sink metadata and logs a
    # FileNotFoundException stack trace on every frame build.
    assert json_roots == sorted(str(p) for p in tmp_path.glob("*/*/runs"))
