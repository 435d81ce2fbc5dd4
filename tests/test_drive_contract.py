"""tools/drive_contract.py's DRIVE_ONLY slice: a glob that selects
nothing fails the drive, and a drive releases the temp directories of
the versioned tables it registered."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _drive(tmp_path, only):
    env = dict(os.environ, DRIVE_SF_DIR=SF_DIR, DRIVE_CPUS="2", DRIVE_ONLY=only, TMPDIR=str(tmp_path))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return subprocess.run(
        [sys.executable, str(ROOT / "tools" / "drive_contract.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )


def test_glob_matching_no_query_fails(tmp_path):
    done = _drive(tmp_path, "no_such_query_*")
    assert done.returncode != 0
    assert "FAIL DRIVE_ONLY glob 'no_such_query_*'" in done.stdout
    assert "ALL GREEN" not in done.stdout


def test_sliced_drive_is_green_and_leaves_no_temp_tables(tmp_path):
    done = _drive(tmp_path, "lakehouse_time_travel_checksums")
    assert done.returncode == 0, done.stdout[-3000:] + done.stderr[-3000:]
    assert "OK   lakehouse_time_travel_checksums" in done.stdout
    assert done.stdout.rstrip().endswith("ALL GREEN")
    assert sorted(p.name for p in tmp_path.glob("etl_spark_*")) == []
    assert sorted(p.name for p in tmp_path.glob("duck_spill_*")) == []


def test_oracle_connection_is_bounded():
    """The oracles' DuckDB connection caps its memory at
    ORACLE_MEM_SHARE of MemTotal (DuckDB's default is 80% of RAM) and
    spills into a directory of its own."""
    import re

    from tools.contract_compare import ORACLE_MEM_SHARE, oracle_connection

    con = oracle_connection()
    limit, spill = con.execute(
        "SELECT current_setting('memory_limit'), current_setting('temp_directory')"
    ).fetchone()
    con.close()
    num, unit = re.fullmatch(r"([\d.]+) (\w+)", limit).groups()
    got = float(num) * {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}[unit]
    want = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") * ORACLE_MEM_SHARE
    assert abs(got - want) <= 0.05 * want, (limit, want)
    assert pathlib.Path(spill).name.startswith("duck_spill_")
    assert pathlib.Path(spill).is_dir()
