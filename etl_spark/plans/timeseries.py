"""Time-series extensions over the events stream: EWMA smoothing and
banded interval (event-window) joins.

The reference has no time dimension at all beyond the extraction
timestamp partition key (reference main.py:129); these extend the
§2.2 event-time family (SURVEY.md "Streaming") with the two shapes a
metrics pipeline hits next: trend smoothing and within-window
attribution.

Determinism: the EWMA decay 0.8 = 4/5 is rational, so the truncated
weighted sum is computed entirely in integers — weight w_j = 0.8^j
scaled by 5^(T-1) is the exact integer 4^j * 5^(T-1-j), numerator and
denominator are exact BIGINT sums, and the single final double
division is bit-identical across engines. (A float-weight formulation
was tried first and diverged from DuckDB by 1 ulp on ~3% of rows —
floating-point *chains* are not portable even with identical literals;
one division of exact integers is.) The interval join compares integer
microseconds (unix_micros / epoch_us), no float time math anywhere.

Scale posture: the EWMA windows over the *hourly aggregate* (rows =
types x hours, thousands per year — tiny at any corpus size), never
over raw events. The interval join never builds a time-range cross
product: candidates come from an equi-join on (user, hour-bucket) with
the error side exploded to exactly 2 buckets, so the shuffle is
co-partitioned and per-key work is bounded by per-user-per-hour
activity. This is the standard bucketed range-join decomposition
(same family as range_join_value_buckets, which broadcasts instead
because its band dim is small).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load
from etl_spark.plans.registry import register


EWMA_TERMS = 12
# decay 0.8 = 4/5; scaled by 5^(T-1) every weight is an exact integer.
_INT_WEIGHTS = [
    4**j * 5 ** (EWMA_TERMS - 1 - j) for j in range(EWMA_TERMS)
]

HOUR_US = 3_600_000_000


def _ewma_oracle() -> str:
    num = " + ".join(
        f"{w} * COALESCE(LAG(n_events, {j}) OVER w, 0)"
        for j, w in enumerate(_INT_WEIGHTS)
    )
    den = " + ".join(
        f"{w} * (CASE WHEN LAG(n_events, {j}) OVER w IS NULL"
        " THEN 0 ELSE 1 END)"
        for j, w in enumerate(_INT_WEIGHTS)
    )
    return f"""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, hour_ts
    )
    SELECT event_type,
           strftime(hour_ts, '{TS_FMT_DUCK}') AS hour,
           n_events,
           CAST(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)
                AS DOUBLE) AS ewma_events
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts)
    ORDER BY event_type, hour
    """


@register(
    "events_ewma_hourly",
    oracle=_ewma_oracle(),
    doc="Exponentially-weighted moving average of hourly event counts "
        "per type, over the last 12 observed hourly buckets (decay "
        "0.8). Expressed as an explicit finite weighted LAG chain — "
        "the truncated form of the recursive EWMA, which no SQL window "
        "can state exactly. Missing buckets are excluded from the "
        "weight mass (see events_hourly_gapfill for the explicit-zeros "
        "spine alternative). Windows run over the hourly aggregate, "
        "not raw events, so the sort is over thousands of rows at any "
        "corpus size.",
    tags=("events", "window", "timeseries"),
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    num_terms = [
        F.lit(wt) * F.coalesce(F.lag("n_events", j).over(w), F.lit(0))
        for j, wt in enumerate(_INT_WEIGHTS)
    ]
    den_terms = [
        F.lit(wt)
        * F.when(F.lag("n_events", j).over(w).isNull(), F.lit(0)).otherwise(
            F.lit(1)
        )
        for j, wt in enumerate(_INT_WEIGHTS)
    ]
    num = reduce(lambda a, b: a + b, num_terms)
    den = reduce(lambda a, b: a + b, den_terms)
    return (
        hourly.select(
            "event_type",
            F.date_format("hour_ts", TS_FMT_SPARK).alias("hour"),
            "n_events",
            (num.cast("double") / den.cast("double"))
            .cast("double")
            .alias("ewma_events"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "events_error_click_followup",
    oracle=f"""
    WITH errors AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS te_us
      FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, epoch_us(ts) AS tc_us
      FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '{TS_FMT_DUCK}') AS error_ts,
           CAST(COUNT(c.tc_us) AS BIGINT) AS n_clicks_1h
    FROM errors e
    LEFT JOIN clicks c
      ON c.user_id = e.user_id
     AND c.tc_us > e.te_us
     AND c.tc_us <= e.te_us + {HOUR_US}
    GROUP BY e.event_id, e.user_id, e.ts
    ORDER BY e.event_id
    """,
    doc="Within-window attribution: for every error, how many clicks "
        "the same user made in the following hour. The oracle states "
        "the naive theta join; the Spark plan decomposes it into an "
        "equi-join on (user_id, hour_bucket) with the error side "
        "exploded to its 2 covering buckets, then the exact integer-"
        "microsecond filter — candidates are co-partitioned and "
        "bounded by per-user-per-hour activity, never a per-user time "
        "cross product. Zero-match errors are restored by a final "
        "left join against the (small) per-error counts.",
    tags=("events", "join", "timeseries", "range-join"),
)
def events_error_click_followup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("error_ts"),
        F.unix_micros("ts").alias("te_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.unix_micros("ts").alias("tc_us"),
    )
    # Error e at hour h can only match clicks bucketed at h or h+1.
    probe = errors.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr(f"te_us div {HOUR_US}"),
                F.expr(f"te_us div {HOUR_US}") + 1,
            )
        ),
    )
    cand = probe.join(
        clicks.withColumn("c_bucket", F.expr(f"tc_us div {HOUR_US}")),
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("bucket") == F.col("c_bucket")),
    )
    matched = (
        cand.filter(
            (F.col("tc_us") > F.col("te_us"))
            & (F.col("tc_us") <= F.col("te_us") + HOUR_US)
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    return (
        errors.join(matched, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            "error_ts",
            F.coalesce(F.col("n_clicks"), F.lit(0)).cast("bigint").alias(
                "n_clicks_1h"
            ),
        )
        .orderBy("event_id")
    )


ZSCORE_WINDOW = 24  # trailing hourly buckets
ZSCORE_FLAG = 3.0


@register(
    "events_rolling_zscore",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', ts) AS hour_ts,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY event_type, hour_ts
    ),
    rolled AS (
      -- s1/s2 in 128-bit (HUGEINT): cents*cents and the n*s2 - s1*s1
      -- variance guard exceed int64 for high-volume hours; Spark side
      -- uses decimal(38,0) for the same sums, both exact.
      SELECT event_type, hour_ts, cents,
             CAST(COUNT(*) OVER w AS BIGINT)      AS n,
             CAST(SUM(CAST(cents AS HUGEINT)) OVER w AS HUGEINT) AS s1,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) OVER w AS HUGEINT) AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
                   ROWS BETWEEN {ZSCORE_WINDOW} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(hour_ts, '{TS_FMT_DUCK}') AS hour,
           cents,
           CAST(CASE WHEN n >= 2
                      AND n * s2 - s1 * s1 > 0
                THEN (cents - CAST(s1 AS DOUBLE) / n)
                     / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                            / (n - 1))
                ELSE NULL END AS DOUBLE) AS zscore,
           CAST(CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0
                      AND abs((cents - CAST(s1 AS DOUBLE) / n)
                          / sqrt((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                    / n)
                                 / (n - 1))) > {ZSCORE_FLAG}
                THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
    FROM rolled
    ORDER BY event_type, hour
    """,
    doc=f"Rolling anomaly detection: each hourly revenue bucket scored "
        f"against the trailing {ZSCORE_WINDOW} buckets' mean/stddev, "
        f"flagged when |z| > {ZSCORE_FLAG}. The window carries exact "
        "(n, Σx, Σx²) in decimal(38,0) / HUGEINT — the same portable-"
        "moments rule as part_price_zscore_by_type, but over a "
        "sliding ROWS frame, 128-bit because Σx² and the variance "
        "guard exceed int64 for high-volume hours — "
        "so z is derived identically in both engines. Degenerate "
        "windows (n < 2 or zero variance, possible on integer cents) "
        "yield NULL. Windows run over the hourly aggregate, not raw "
        "events.",
    tags=("events", "window", "timeseries", "statistics"),
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-ZSCORE_WINDOW, -1)
    )
    # Sufficient statistics in decimal(38,0) (DuckDB: HUGEINT):
    # cents*cents and the n*s2 - s1*s1 guard both exceed int64 for
    # high-volume hours; decimal keeps them exact in both engines.
    cents_d = F.col("cents").cast("decimal(19,0)")
    rolled = hourly.select(
        "event_type",
        "hour_ts",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(cents_d).over(w).alias("s1"),
        F.sum(cents_d * cents_d).over(w).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    ok = (n >= 2) & (n * s2 - s1 * s1 > 0)
    z = (F.col("cents") - s1.cast("double") / n) / F.sqrt(
        (s2.cast("double") - s1.cast("double") * s1.cast("double") / n)
        / (n - 1)
    )
    return rolled.select(
        "event_type",
        F.date_format("hour_ts", TS_FMT_SPARK).alias("hour"),
        "cents",
        F.when(ok, z).otherwise(F.lit(None)).cast("double").alias("zscore"),
        F.when(ok & (F.abs(z) > ZSCORE_FLAG), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    ).orderBy("event_type", "hour")


@register(
    "events_error_rate_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY hour_ts
    )
    SELECT strftime(hour_ts, '{TS_FMT_DUCK}') AS hour,
           n_events, n_errors,
           CAST(CAST(n_errors AS DOUBLE) / n_events AS DOUBLE) AS error_rate,
           CAST(CASE WHEN n_errors * 4 > n_events THEN 1 ELSE 0 END
                AS INTEGER) AS alert
    FROM hourly
    ORDER BY hour
    """,
    doc="Hourly error-rate monitor with a threshold alert (rate > 25%, "
        "stated as the integer cross-multiplication n_errors*4 > "
        "n_events — no float compare in the alert path). One "
        "map-combinable conditional aggregate; the SRE dashboard "
        "query every event pipeline ships first.",
    tags=("events", "aggregation", "timeseries", "quality"),
)
def events_error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return error_rate_hourly(load(spark, sf_dir, "events")).orderBy("hour")


def error_rate_hourly(events: DataFrame) -> DataFrame:
    """Per-hour event and error counts, error fraction and alert: the
    one body of events_error_rate_hourly and of its streaming twin.
    It groups by the 1-hour event-time window, which starts where
    date_trunc('hour') does in UTC; the window is what lets a
    watermark evict the stream's state."""
    hourly = events.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    return hourly.select(
        F.date_format("w.start", TS_FMT_SPARK).alias("hour"),
        "n_events",
        "n_errors",
        (F.col("n_errors").cast("double") / F.col("n_events"))
        .cast("double")
        .alias("error_rate"),
        F.when(F.col("n_errors") * 4 > F.col("n_events"), 1)
        .otherwise(0)
        .cast("int")
        .alias("alert"),
    )
