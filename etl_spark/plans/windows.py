"""Window functions (SURVEY.md §2.2 "Window functions").

The reference's latest-snapshot-wins dedup (reference main.py:149-157)
is the archetype for every query here: partition by a business key,
order within the partition, pick/accumulate. All orderings carry a
unique-key tiebreak so results are total-ordered and engine-independent.

Scale: a window shuffles once on its partition key. Keys here
(customer, brand) are high-cardinality → partitions stay small; skewed
partitions are AQE's problem only for joins, for windows the mitigation
is key design (never Window.partitionBy() with no key = single task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.money import dec
from etl_spark.io import load
from etl_spark.operators.ranking import first_per_key
from etl_spark.plans.registry import register


@register(
    "window_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    WHERE rn = 1
    """,
    doc="Latest row per key — the Spark form of the reference's "
        "latest-snapshot-wins dedup (reference main.py:149-157, S14), "
        "through operators.ranking.first_per_key: the oracle's "
        "row_number over (partition key ORDER BY recency DESC) = 1.",
    tags=("window", "dedup"),
)
def window_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return first_per_key(
        load(spark, sf_dir, "orders"),
        ["o_custkey"],
        F.col("o_orderdate").desc(),
        F.col("o_orderkey").desc(),
    ).select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
    )


@register(
    "window_running_spend",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate ASC, o_orderkey ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_spend
    FROM orders
    """,
    doc="Running total per customer (cumulative frame); decimal-exact so "
        "the prefix sums hash identically across engines.",
    tags=("window",),
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', CAST(prev_date AS DATE), CAST(o_orderdate AS DATE))
                AS INTEGER) AS gap_days
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             LAG(o_orderdate) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_date
      FROM orders
    )
    WHERE prev_date IS NOT NULL
    """,
    doc="LAG: days between consecutive orders of the same customer.",
    tags=("window", "lag"),
)
def window_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate").cast("date"), F.col("prev_date").cast("date"))
            .alias("gap_days"),
        )
    )


@register(
    "window_rank_parts_by_price",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(DENSE_RANK() OVER (
             PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INTEGER)
             AS price_rank
    FROM part
    """,
    doc="DENSE_RANK within brand by retail price; value-ordered so ties "
        "rank identically regardless of physical row order.",
    tags=("window", "rank"),
)
def window_rank_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return load(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.dense_rank().over(w).alias("price_rank"),
    )


@register(
    "window_rank_family_orders",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(NTILE(4) OVER w AS INTEGER)       AS price_quartile,
           CAST(DENSE_RANK() OVER w AS INTEGER)   AS price_dense_rank,
           PERCENT_RANK() OVER w                  AS price_pct_rank,
           CUME_DIST() OVER w                     AS price_cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
    doc="The remaining ranking family in one pass: NTILE(4) (equal-"
        "height buckets), DENSE_RANK (no rank gaps), PERCENT_RANK and "
        "CUME_DIST (exact integer-ratio doubles — (rank-1)/(n-1) and "
        "peers/n, engine-identical). One shuffle on the partition key, "
        "all four functions share the same sort.",
    tags=("window", "rank"),
)
def window_rank_family_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("price_quartile"),
        F.dense_rank().over(w).cast("int").alias("price_dense_rank"),
        F.percent_rank().over(w).alias("price_pct_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
    )
