"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import duckdb
import pytest

from etl_spark.io import TABLES
from etl_spark.operators.caching import evict
from etl_spark.session import get_spark, tune_session

SF_DIR = "/root/testdata/sf0.001"


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
