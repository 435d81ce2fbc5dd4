"""Event-stream queries: JSON props, event-time windows, sessions.

The reference has no streaming runtime — its incrementality is re-run
batch over an append-only raw zone (SURVEY.md §2.2 "Streaming") — so
these are the batch forms; `etl_spark.streaming.windows` runs the
tumbling and sliding aggregates as real Structured Streaming jobs with
watermarks, calling the same bodies (`tumbling_hourly`,
`sliding_1h_30m`) on the watermarked stream.

Hash-stability notes:
* Window starts are emitted as formatted strings; Spark's window()
  aligns to the unix epoch in the session timezone (pinned UTC), which
  matches DuckDB date_trunc-based bucketing.
* Timestamp gaps compare integer microseconds (unix_micros vs
  epoch_us) — no float rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load
from etl_spark.operators.ranking import first_per_key
from etl_spark.plans.registry import register


@register(
    "events_json_props",
    oracle="""
    SELECT
      event_type,
      COUNT(*)                                     AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
        / COUNT(*)                                 AS avg_k,
      MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))  AS min_k,
      MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))  AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured JSON projection (I5, reference main.py:97,108,157): "
        "get_json_object pushdown into a grouped aggregate.",
    tags=("json", "aggregation"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("bigint")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "events_props_map_funcs",
    oracle="""
    SELECT event_id,
           -- array_to_string([]) is NULL in DuckDB but array_join([])
           -- is '' in Spark; '' is the engine's (sensible) answer for
           -- "object with zero keys", NULL stays reserved for NULL
           -- props — mirror that split explicitly.
           CASE WHEN props IS NULL THEN NULL
                ELSE COALESCE(array_to_string(json_keys(props), ','), '')
           END                                                  AS prop_keys,
           CAST(len(json_keys(props)) AS INTEGER)               AS n_props,
           CAST(json_extract_string(props, '$.k') AS BIGINT)    AS k_value
    FROM events
    WHERE event_id % 50 = 0
    """,
    doc="Map-typed columns: from_json to map<string,bigint>, then "
        "map_keys / size / element_at — the MapType surface from "
        "SURVEY §2.2's scalar list.",
    tags=("json", "map", "scalar"),
)
def events_props_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.size(F.map_keys(m)).alias("n_props"),
        F.element_at(m, "k").alias("k_value"),
    )


@register(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT
      strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS window_start,
      event_type,
      COUNT(*)                                          AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time window aggregate; window(ts, '1 hour') "
        "in Spark == date_trunc('hour') bucketing with UTC epoch alignment. "
        "Streaming twin: etl_spark.streaming.windows.hourly_counts_stream "
        "(the same body over the watermarked stream).",
    tags=("events", "window-agg"),
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly(load(spark, sf_dir, "events"))


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Events and decimal-exact value sum per (1-hour window,
    event_type): the one body of events_tumbling_hourly and of its
    streaming twin."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_sliding_1h_30m",
    oracle=f"""
    WITH aligned AS (
      SELECT *,
             date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS slot30
      FROM events
    ), exploded AS (
      SELECT slot30                        AS window_start, event_type FROM aligned
      UNION ALL
      SELECT slot30 - INTERVAL 30 MINUTE  AS window_start, event_type FROM aligned
    )
    SELECT strftime(window_start, '{TS_FMT_DUCK}') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM exploded
    GROUP BY 1, 2
    """,
    doc="Sliding window (1h size, 30m slide): each event lands in exactly "
        "two windows; oracle materializes both membership rows explicitly.",
    tags=("events", "window-agg"),
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_1h_30m(load(spark, sf_dir, "events"))


def sliding_1h_30m(events: DataFrame) -> DataFrame:
    """Events per (1-hour window sliding every 30 minutes, event_type):
    the one body of events_sliding_1h_30m and of its streaming twin."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


SESSION_GAP_US = 10 * 60 * 1_000_000  # 10 minutes in microseconds


@register(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag_ts IS NULL
                       OR epoch_us(ts) - epoch_us(lag_ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC) AS lag_ts
        FROM events
      )
    ), numbered AS (
      SELECT user_id, event_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
      FROM flagged
    )
    SELECT user_id,
           CAST(session_num AS BIGINT)              AS session_num,
           COUNT(*)                                 AS n_events,
           strftime(MIN(ts), '{TS_FMT_DUCK}')       AS session_start,
           strftime(MAX(ts), '{TS_FMT_DUCK}')       AS session_end
    FROM numbered
    GROUP BY user_id, session_num
    """,
    doc="Sessionization with a 10-minute inactivity gap via gaps-and-"
        "islands (lag + running sum) — batch equivalent of Spark's "
        "session_window; integer-microsecond gap math for exactness.",
    tags=("events", "session"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = load(spark, sf_dir, "events")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w_lag).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_lag)) > SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_num", F.sum("new_session").over(w_run).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_num").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT_SPARK).alias("session_start"),
        F.date_format(F.max("ts"), TS_FMT_SPARK).alias("session_end"),
    )


@register(
    "events_session_window_native",
    oracle=f"""
    WITH flagged AS (
      -- Native session_window MERGES an event landing exactly at
      -- last_ts + gap (the merge test is start <= previous end,
      -- i.e. the interval is closed at the gap boundary — verified
      -- empirically in tests/test_edge_events_parity.py), so the
      -- gaps-and-islands mirror uses strict >, same as
      -- events_sessionize.
      SELECT user_id, event_id, ts,
             CASE WHEN lag_ts IS NULL
                       OR epoch_us(ts) - epoch_us(lag_ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC) AS lag_ts
        FROM events
      )
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_num
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
           COUNT(*)                           AS n_events
    FROM numbered
    GROUP BY user_id, session_num
    """,
    doc="Native session_window(ts, '10 minutes') — Spark's built-in "
        "session windows, cross-checked against the independent gaps-"
        "and-islands formulation (the oracle): a session's window.start "
        "equals the session's first event, so the two derivations must "
        "agree exactly. This is the operator a streaming deployment "
        "would use (works under watermarks).",
    tags=("events", "session"),
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


@register(
    "events_latest_per_user_type",
    oracle=f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{TS_FMT_DUCK}') AS event_ts, value
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    doc="Latest-snapshot-wins per (user_id, event_type) — direct port of "
        "the reference's S14 dedup semantics (reference main.py:149-157: "
        "newest extraction wins per (repo, id)) onto the events table.",
    tags=("events", "dedup", "window"),
)
def events_latest_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return first_per_key(
        load(spark, sf_dir, "events"),
        ["user_id", "event_type"],
        F.col("ts").desc(),
        F.col("event_id").desc(),
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("event_ts"),
        "value",
    )


# The batch-MERGE twin of the query above: maintain the latest-per-key
# view INCREMENTALLY (materialized history ⊕ new batch) instead of
# recomputing it. The slice constant matches the dedup family's ingest
# slice for consistency.
SNAPSHOT_BATCH_MOD = 10


@register(
    "events_snapshot_merge",
    oracle=f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{{TS_FMT_DUCK}}') AS event_ts, value,
           event_id % {SNAPSHOT_BATCH_MOD} = 0 AS via_batch
    FROM (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """.format(TS_FMT_DUCK=TS_FMT_DUCK),
    doc="Incremental snapshot maintenance as a batch MERGE (the middle "
        "ground between run_pipeline's full recompute, reference "
        "main.py:182, and the streaming twin): the materialized "
        "latest-per-(user_id, event_type) table built from the "
        f"historical slice (event_id % {SNAPSHOT_BATCH_MOD} != 0) is "
        "MERGED with the arriving batch via etl/merge.py's "
        "latest_wins_merge — upsert on the key, greatest (ts, "
        "event_id) wins. The ORACLE is the full-recompute window over "
        "ALL events: green means merged-view == full recompute, the "
        "exact invariant incremental maintenance must hold. Cost "
        "shape: O(|snapshot| + |batch|) one-key-window, and the "
        "table-maintenance form (etl/merge.py bucket partitioning) "
        "touches only the bucket partitions the batch lands in.",
    tags=("events", "dedup", "merge", "incremental"),
)
def events_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.etl.merge import latest_wins_merge

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    arriving = F.col("event_id") % SNAPSHOT_BATCH_MOD == 0
    snapshot = first_per_key(  # the table state before the batch lands
        ev.filter(~arriving),
        ["user_id", "event_type"],
        F.col("ts").desc(),
        F.col("event_id").desc(),
    )
    merged = latest_wins_merge(
        snapshot,
        ev.filter(arriving),
        keys=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
    )
    return merged.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("event_ts"),
        "value",
        (F.col("event_id") % SNAPSHOT_BATCH_MOD == 0).alias("via_batch"),
    )


@register(
    "events_hourly_gapfill",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type
      FROM events
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    grid AS (
      SELECT s.hour_start, t.event_type
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    ),
    agg AS (
      SELECT h AS hour_start, event_type, COUNT(*) AS c
      FROM ev GROUP BY ALL
    )
    SELECT strftime(g.hour_start, '{TS_FMT_DUCK}') AS hour_start,
           g.event_type,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS n_events
    FROM grid g
    LEFT JOIN agg a
      ON a.hour_start = g.hour_start AND a.event_type = g.event_type
    """,
    doc="Gap-filled hourly event counts (the dashboard/date-spine "
        "pattern): a complete hour x event_type grid built from "
        "sequence()-explode over the observed [min, max] hour range, "
        "left-joined to the hourly aggregate so silent hours surface "
        "as explicit zeros — time-series models and monitors need the "
        "zeros, not missing rows. Scale shape: the spine is "
        "calendar-bounded (hours x types, thousands of rows however "
        "big the fact table), built from a one-row bounds aggregate; "
        "the hourly aggregate is calendar-bounded too, so it "
        "broadcasts as the build side of the left join and the only "
        "data-sized shuffle is the hourly groupBy.",
    tags=("events", "window-agg", "gapfill"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    )
    spine = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hour_start")
        )
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    agg = ev.groupBy("h", "event_type").agg(F.count(F.lit(1)).alias("c"))
    return (
        grid.join(
            F.broadcast(agg),
            (grid["hour_start"] == agg["h"])
            & (grid["event_type"] == agg["event_type"]),
            "left",
        )
        .select(
            F.date_format(grid["hour_start"], TS_FMT_SPARK).alias("hour_start"),
            grid["event_type"],
            F.coalesce(F.col("c"), F.lit(0).cast("bigint")).alias("n_events"),
        )
    )


@register(
    "events_hourly_locf",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    grid AS (
      SELECT s.hour_start, t.event_type
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    ),
    agg AS (
      SELECT h AS hour_start, event_type,
             CAST(SUM(v) AS DOUBLE) AS hour_value
      FROM ev GROUP BY ALL
    )
    SELECT strftime(g.hour_start, '{TS_FMT_DUCK}') AS hour_start,
           g.event_type,
           CASE WHEN a.hour_value IS NULL THEN 0 ELSE 1 END AS observed,
           last_value(a.hour_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hour_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM grid g
    LEFT JOIN agg a
      ON a.hour_start = g.hour_start AND a.event_type = g.event_type
    """,
    doc="Forward-fill / last-observation-carried-forward over the "
        "hourly spine: silent hours inherit the most recent observed "
        "hourly value per event_type (the sensor/metrics imputation "
        "pattern — the sibling of events_hourly_gapfill, which fills "
        "zeros). The fill is last_value(... IGNORE NULLS) over an "
        "unbounded-preceding ROWS frame — a running O(1)-state "
        "window, never a self-join; hours before the first "
        "observation stay NULL in both engines. Hourly sums go "
        "through DECIMAL so the carried values are bit-identical. "
        "Scale shape: identical to the gapfill (broadcast grid, one "
        "data shuffle for the hourly agg, one partition-local window "
        "per event_type).",
    tags=("events", "window", "gapfill", "timeseries"),
)
def events_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    spine = (
        ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hour_start")
        )
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    agg = ev.groupBy("h", "event_type").agg(
        F.sum("v").cast("double").alias("hour_value")
    )
    joined = (
        grid.join(
            F.broadcast(agg),
            (grid["hour_start"] == agg["h"])
            & (grid["event_type"] == agg["event_type"]),
            "left",
        )
        .select(
            grid["hour_start"].alias("hs"),
            grid["event_type"],
            F.col("hour_value"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.date_format("hs", TS_FMT_SPARK).alias("hour_start"),
        "event_type",
        F.when(F.col("hour_value").isNull(), 0).otherwise(1).alias("observed"),
        F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "events_hourly_interp",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type
      FROM events
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM ev),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    grid AS (
      SELECT s.hour_start, t.event_type
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
    ),
    agg AS (
      SELECT h AS hour_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev GROUP BY ALL
    ),
    joined AS (
      SELECT g.hour_start, g.event_type, a.cnt,
             CAST(date_part('epoch', g.hour_start) AS BIGINT) // 3600 AS hh,
             CASE WHEN a.cnt IS NULL THEN NULL
                  ELSE CAST(date_part('epoch', g.hour_start) AS BIGINT) // 3600
             END AS obs_hh
      FROM grid g
      LEFT JOIN agg a
        ON a.hour_start = g.hour_start AND a.event_type = g.event_type
    ),
    neighbored AS (
      SELECT *,
             last_value(cnt IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
             last_value(obs_hh IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
             first_value(cnt IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
             first_value(obs_hh IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
      FROM joined
    )
    SELECT strftime(hour_start, '{TS_FMT_DUCK}') AS hour_start,
           event_type,
           CASE WHEN cnt IS NULL THEN 0 ELSE 1 END AS observed,
           CASE
             WHEN cnt IS NOT NULL THEN cnt
             WHEN prev_h IS NULL OR next_h IS NULL THEN NULL
             ELSE (prev_c * (next_h - hh) + next_c * (hh - prev_h))
                  // (next_h - prev_h)
           END AS interp_cnt
    FROM neighbored
    """,
    doc="Linear interpolation over the hourly spine — the third "
        "imputation policy next to events_hourly_gapfill (zeros) and "
        "events_hourly_locf (carry-forward): a silent hour inside a "
        "type's observed range takes the straight line between its "
        "nearest observed neighbors. The interpolated value is "
        "computed ENTIRELY in integers — floor((prev*(next_h - h) + "
        "next*(h - prev_h)) / (next_h - prev_h)) on epoch-hour "
        "bigints — so no float division ever crosses engines; hours "
        "before a type's first observation or after its last stay "
        "NULL (extrapolation is a lie, and both engines agree it is). "
        "Neighbor discovery is two O(1)-state running windows "
        "(last_value/first_value IGNORE NULLS over opposite "
        "unbounded frames), never a self-join or a range join. Scale "
        "shape: identical to the gapfill family — calendar-bounded "
        "broadcast grid, one data shuffle for the hourly agg, "
        "partition-local windows per event_type.",
    tags=("events", "window", "gapfill", "timeseries"),
)
def events_hourly_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    )
    spine = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi")).select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "hour_start"
        )
    )
    grid = spine.crossJoin(ev.select("event_type").distinct())
    agg = ev.groupBy("h", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    hh = (F.unix_timestamp("hs") / 3600).cast("bigint")
    joined = grid.join(
        F.broadcast(agg),
        (grid["hour_start"] == agg["h"])
        & (grid["event_type"] == agg["event_type"]),
        "left",
    ).select(
        grid["hour_start"].alias("hs"),
        grid["event_type"],
        F.col("cnt"),
    )
    joined = joined.withColumn("hh", hh).withColumn(
        "obs_hh", F.when(F.col("cnt").isNotNull(), F.col("hh"))
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("hs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hs")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nb = (
        joined.withColumn("prev_c", F.last("cnt", ignorenulls=True).over(back))
        .withColumn("prev_h", F.last("obs_hh", ignorenulls=True).over(back))
        .withColumn("next_c", F.first("cnt", ignorenulls=True).over(fwd))
        .withColumn("next_h", F.first("obs_hh", ignorenulls=True).over(fwd))
    )
    interp = F.when(F.col("cnt").isNotNull(), F.col("cnt")).otherwise(
        F.when(
            F.col("prev_h").isNotNull() & F.col("next_h").isNotNull(),
            F.expr(
                "(prev_c * (next_h - hh) + next_c * (hh - prev_h)) "
                "div (next_h - prev_h)"
            ),
        )
    )
    return nb.select(
        F.date_format("hs", TS_FMT_SPARK).alias("hour_start"),
        "event_type",
        F.when(F.col("cnt").isNull(), 0).otherwise(1).alias("observed"),
        interp.cast("bigint").alias("interp_cnt"),
    )
