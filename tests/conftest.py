"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import json

import duckdb
import pytest

from etl_spark.io import TABLES
from etl_spark.operators.caching import evict
from etl_spark.session import get_spark, tune_session

SF_DIR = "/root/testdata/sf0.001"


def write_event_file(rows, path) -> None:
    """Write the rows of an events pandas frame to ``path`` as one
    JSON-lines micro-batch file in the shape of
    ``etl_spark.streaming.windows.EVENT_SCHEMA``."""
    with open(path, "w") as f:
        for _, r in rows.iterrows():
            f.write(
                json.dumps(
                    {
                        "event_id": int(r.event_id),
                        "ts": r.ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                        "user_id": int(r.user_id),
                        "event_type": r.event_type,
                        "value": float(r.value),
                        "props": r.props,
                    }
                )
                + "\n"
            )


@pytest.fixture(scope="session")
def spark():
    s = tune_session(get_spark("etl-spark-tests"))
    yield s
    # release every session memo, so the versioned-table directories
    # the run built do not outlive it in the temp dir
    evict()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
