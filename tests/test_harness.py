"""The measurement harness (tools/harness.py): the profile record's
schema, and that no tool is tied to one checkout's location."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent

COUNTS = ("build_jobs", "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes")
SECONDS = ("build_s", "action_s", "s", "jit_compile_s", "janino_compile_s", "cpu_s", "serial_stage_s")


def test_profile_record_schema(tmp_path):
    # lakehouse_time_travel_checksums registers versioned tables whose
    # files live in temp directories; leaving the harness must release
    # them, or every profiled run leaves them behind.
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS="2", TMPDIR=str(tmp_path))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    done = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "harness.py"), "q1_pricing_summary",
         "lakehouse_time_travel_checksums"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    doc = json.loads(done.stdout)
    assert doc["cpus"] == 2 and doc["eviction"] == "cold" and len(doc["loadavg"]) == 3
    assert doc["sf"] == SF_DIR
    rec = doc["queries"]["q1_pricing_summary"]
    assert isinstance(rec["rows"], int) and rec["rows"] > 0
    for key in COUNTS:
        assert isinstance(rec[key], int) and rec[key] >= 0, key
    for key in SECONDS + ("task_skew",):
        assert isinstance(rec[key], (int, float)) and rec[key] >= 0, key
    assert rec["action_s"] > 0 and rec["s"] >= rec["build_s"]
    # The event log was folded: the count ran at least a scan stage.
    assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1 and rec["cpu_s"] > 0
    for stage in rec["long_task_stages"]:
        assert set(stage) == {"tasks", "max_task_s", "median_task_s"}
        assert stage["max_task_s"] > 0.2 and stage["tasks"] >= 1
    assert doc["queries"]["lakehouse_time_travel_checksums"]["rows"] > 0
    assert sorted(p.name for p in tmp_path.glob("etl_spark_*")) == []


def test_tools_resolve_the_checkout_from_their_own_path():
    # A tool that names a checkout's absolute path, or puts a literal
    # absolute path on sys.path, imports, reads or overwrites that
    # checkout when it is run from a copy of the repo.
    literal_root = re.compile(r"""sys\.path\.insert\(\s*0\s*,\s*["']/""")
    offenders = []
    for p in sorted((ROOT / "tools").iterdir()):
        text = p.read_text(errors="replace") if p.is_file() else ""
        if str(ROOT) in text or literal_root.search(text):
            offenders.append(p.name)
    assert offenders == []
