"""Advanced relational surface: as-of join, pivot, array aggregation,
SQL-API entry, and skew-safe salted aggregation.

These are the operators the reference lacks entirely (SURVEY.md §2.2)
but a user of a serious analytics engine reaches for weekly. Each is
expressed in the shape that survives 100 TB:

* as-of join — the merge-sorted window formulation (one shuffle on the
  entity key, no range crossJoin, no per-row lookups);
* pivot — fixed value list, so the schema is static and the plan is a
  single hash aggregate (dynamic pivot would need a driver-side
  distinct first);
* salted aggregation — two-phase agg for skewed keys: shuffle 1 sees
  (key, salt) — hot keys split across reducers — shuffle 2 merges the
  per-salt partials (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load, register_views
from etl_spark.operators.skew import N_SALTS
from etl_spark.plans.registry import register


@register(
    "events_asof_click_before_error",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS) OVER w AS click_id,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS) OVER w AS click_ts
      FROM events
      WHERE event_type IN ('click', 'error')
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           event_id                                AS error_id,
           strftime(ts, '{TS_FMT_DUCK}')           AS error_ts,
           click_id,
           strftime(click_ts, '{TS_FMT_DUCK}')     AS last_click_ts
    FROM ordered
    WHERE event_type = 'error'
    """,
    doc="As-of join: each error event matched to the user's most recent "
        "preceding click. Expressed as a merge-sorted window (last_value "
        "IGNORE NULLS over the interleaved stream) — one shuffle on "
        "user_id, no range crossJoin; the canonical Spark shape for "
        "point-in-time joins.",
    tags=("asof", "window", "events"),
)
def events_asof_click_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("click_id", F.last(click_id, ignorenulls=True).over(w))
        .withColumn("click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            F.col("event_id").alias("error_id"),
            F.date_format("ts", TS_FMT_SPARK).alias("error_ts"),
            "click_id",
            F.date_format("click_ts", TS_FMT_SPARK).alias("last_click_ts"),
        )
    )


EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "pivot_user_event_counts",
    oracle=f"""
    SELECT user_id,
      {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot with a FIXED value list (static schema, single hash "
        "aggregate). Dynamic pivot needs a driver-side distinct pass "
        "first — avoided by contract.",
    tags=("pivot", "aggregation"),
)
def pivot_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


@register(
    "agg_collect_events",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
             AS event_types
    FROM events
    GROUP BY user_id
    """,
    doc="Array aggregation: collect_set sorted then joined — the "
        "deterministic form (raw collect_list order is partition-"
        "dependent and must never be hashed).",
    tags=("aggregation", "array"),
)
def agg_collect_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
                "event_types"
            ),
        )
    )


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"


@register(
    "sql_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                AS DOUBLE)                          AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d')      AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '{Q3_DATE} 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H-Q3-style 3-way join through the spark.sql() API (temp "
        "views) — exercises the SQL front end end-to-end; Catalyst "
        "broadcasts the filtered customer dim and pushes both date "
        "predicates to the scans.",
    tags=("sql-api", "join", "aggregation"),
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        f"""
        SELECT l.l_orderkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
                    AS DOUBLE)                          AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_date,
               o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = '{Q3_SEGMENT}'
          AND o.o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '{Q3_DATE} 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    )


@register(
    "agg_salted_event_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    doc=f"Skew-safe two-phase aggregation: phase 1 groups on (key, "
        f"salt%{N_SALTS}) so a hot key spreads over {N_SALTS} reducers, "
        "phase 2 merges the tiny per-salt partials. Result is identical "
        "to the direct groupBy (the oracle IS the direct form) — this "
        "query exists to keep the salted pattern correct and tested; "
        "at 100 TB it's what you switch to when AQE's skew handling "
        "isn't available (e.g. pre-3.0 clusters or custom sinks).",
    tags=("aggregation", "skew"),
)
def agg_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.skew import salted_aggregate

    ev = load(spark, sf_dir, "events")
    return salted_aggregate(
        ev,
        keys=["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_sv"),
        ],
        merge_aggs=lambda: [
            F.sum("_n").alias("n_events"),
            F.sum("_sv").cast("double").alias("sum_value"),
        ],
    )


@register(
    "sql_q4_priority_with_returns",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="TPC-H-Q4-shaped correlated EXISTS through the spark.sql() "
        "front end: orders in a quarter having at least one returned "
        "line, counted by priority. Catalyst de-correlates the EXISTS "
        "into a left-semi join — asserted by the plan regression test, "
        "because a naive per-row subquery would be quadratic at scale.",
    tags=("sql-api", "join", "subquery"),
)
def sql_q4_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(
        """
        SELECT o.o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@register(
    "join_salted_event_geo",
    oracle="""
    SELECT n.n_name AS nation, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, e.event_type
    ORDER BY nation, event_type
    """,
    doc=f"Skew-safe salted JOIN (the join-side counterpart of "
        f"agg_salted_event_counts): the event stream is salted "
        f"{N_SALTS} ways and the customer->nation dim is replicated "
        f"once per salt, so a hot user_id spreads over {N_SALTS} "
        "reducers instead of stalling one. The dim join is pinned to "
        "shuffle-hash (broadcast would make salting a no-op — the "
        "pattern exists for dims too big to broadcast). Result is "
        "identical to the plain join (the oracle IS the plain join); "
        "plan-asserted to contain no broadcast on the salted edge.",
    tags=("join", "skew"),
)
def join_salted_event_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    dim = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    joined = salted_join(ev, dim, big_key="user_id", dim_key="c_custkey")
    return (
        joined.groupBy(F.col("n_name").alias("nation"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("nation", "event_type")
    )
