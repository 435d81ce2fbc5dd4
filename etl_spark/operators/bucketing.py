"""Bucketed table layout: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact-fact equi-join is the shuffle.
Bucketing pays that shuffle ONCE at write time: both tables are
hash-partitioned into the same number of buckets on the join key and
each bucket is sorted, so a later join (or groupBy on the key) is a
zero-exchange sort-merge over aligned buckets.

Rules that make it work (and that the test asserts):
* same bucket count and same key on both sides;
* spark.sql.sources.bucketing.enabled (default on);
* broadcast must be off for the plan to show the SMJ-without-exchange
  shape (a broadcast join would also skip the shuffle, but only while
  one side stays small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


N_BUCKETS = 8


def write_bucketed(df: DataFrame, table_name: str, path: str, key: str) -> None:
    """Persist df as an external table of N_BUCKETS buckets on ``key``,
    each sorted by ``key``, in parquet."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
