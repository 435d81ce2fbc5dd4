"""Product-analytics shapes over the events stream: funnel
conversion, cohort retention, and fixed-width histograms — the
workhorse queries of any behavioral analytics engine (reference has
no aggregations at all; SURVEY.md §2.2 planned surface).

Scale shapes:

* funnel — each stage is an aggregate-then-join on user_id, so every
  shuffle key is the user; stage N's input is already one row per
  user (tiny). Never a self-join of raw events against raw events.
* retention — two distinct-aggregations (first-seen, active-weeks)
  joined on user_id; the cohort matrix output is O(weeks²).
* histogram — one map-side bucket computation + one aggregation;
  bucket math is identical IEEE double ops in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.money import dec
from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load
from etl_spark.plans.registry import register


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.signup_ts
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT)              AS n_signup,
           CAST(COUNT(s2.user_id) AS BIGINT)     AS n_click_after_signup,
           CAST(COUNT(s3.user_id) AS BIGINT)     AS n_purchase_after_click
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    doc="Ordered funnel conversion (signup → first later click → "
        "first later purchase): each stage aggregates to one row per "
        "user BEFORE joining the next stage's events, so the raw "
        "event table is scanned once per stage and every join input "
        "after stage 1 is user-cardinality. The strictly-later "
        "ordering makes it a true sequential funnel, not three "
        "independent existence checks.",
    tags=("events", "funnel", "aggregation"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("click_ts").alias("n_click_after_signup"),
            F.count("purchase_ts").alias("n_purchase_after_click"),
        )
    )


@register(
    "events_retention_cohorts",
    oracle=f"""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT strftime(f.cohort_week, '{TS_FMT_DUCK}') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) // 7 AS INTEGER)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM first_seen f
    JOIN active a ON f.user_id = a.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-seen week, "
        "counted in each subsequent activity week. Two aggregations "
        "(first-seen per user; distinct active weeks per user) joined "
        "on user_id — the join inputs are user- and user×week-"
        "cardinality, never raw events. Week offsets are integer "
        "day-arithmetic on week-truncated timestamps (exact in both "
        "engines; both date_trunc('week') anchor Monday).",
    tags=("events", "retention", "aggregation"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        first_seen.join(active, "user_id")
        .groupBy(
            F.date_format("cohort_week", TS_FMT_SPARK).alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_rolling_7d_active_users",
    oracle="""
    WITH day_users AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM day_users)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS active_users_7d
    FROM days
    JOIN day_users du
      ON du.d <= days.d AND du.d > days.d - INTERVAL 7 DAY
    GROUP BY days.d
    ORDER BY days.d
    """,
    doc="Rolling 7-day distinct active users: distinct counts don't "
        "compose across window frames, so the scalable exact form "
        "pre-aggregates to DISTINCT (day, user) — collapsing arbitrary "
        "event volume to at most days×users rows — then range-joins "
        "over the tiny day dimension and counts distinct per anchor "
        "day. At 100 TB the pre-aggregation is the only pass that "
        "touches raw events; the 7-day fan-out multiplies day-grain "
        "rows only. (The sketch alternative is a mergeable HLL per "
        "day; this is the exact twin.)",
    tags=("events", "window-agg", "distinct"),
)
def events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_users = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    # Broadcast the DAY dimension (bounded: one row per calendar day);
    # the (day, user) side is data-sized and must never broadcast.
    days = day_users.select("d").distinct().alias("days")
    du = day_users.alias("du")
    return (
        du.join(
            F.broadcast(days),
            (F.col("du.d") <= F.col("days.d"))
            & (F.col("du.d") > F.col("days.d") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy(F.date_format("days.d", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("du.user_id").alias("active_users_7d"))
        .orderBy("day")
    )


@register(
    "orders_monthly_revenue_growth",
    oracle="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders
      GROUP BY 1
    )
    SELECT month,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(CASE WHEN lag(rev) OVER (ORDER BY month) IS NULL THEN NULL
                ELSE (CAST(rev AS DOUBLE)
                      - CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE))
                     / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE)
                END AS DOUBLE) AS mom_growth
    FROM monthly
    ORDER BY month
    """,
    doc="Month-over-month revenue growth: monthly decimal-exact rollup, "
        "then LAG over the (tiny) month series. The growth ratio "
        "divides doubles cast from identical exact decimals, so it is "
        "engine-identical; the first month is NULL, not zero. The "
        "window runs over month-cardinality rows — a single-partition "
        "sort of a few dozen rows, never of raw orders.",
    tags=("window", "aggregation", "bi"),
)
def orders_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.sum(dec("o_totalprice", 18, 2)).alias("rev"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    growth = F.when(
        prev.isNull(), F.lit(None).cast("double")
    ).otherwise((F.col("rev").cast("double") - prev.cast("double")) / prev.cast("double"))
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        growth.cast("double").alias("mom_growth"),
    ).orderBy("month")


@register(
    "part_price_zscore_by_type",
    oracle="""
    WITH stats AS (
      SELECT p_type,
             CAST(COUNT(*) AS BIGINT)                      AS n,
             SUM(CAST(p_retailprice AS DECIMAL(14,2)))     AS s1,
             SUM(CAST(p_retailprice AS DECIMAL(14,2))
                 * CAST(p_retailprice AS DECIMAL(14,2)))   AS s2
      FROM part GROUP BY p_type
    )
    SELECT p.p_partkey, p.p_type,
           CAST((CAST(p.p_retailprice AS DOUBLE)
                 - CAST(s.s1 AS DOUBLE) / s.n)
                / sqrt((CAST(s.s2 AS DOUBLE)
                        - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                       / (s.n - 1)) AS DOUBLE) AS price_z
    FROM part p
    JOIN stats s ON p.p_type = s.p_type
    ORDER BY p.p_partkey
    """,
    doc="Within-group standardization (z-score) computed from DECIMAL-"
        "exact sum and sum-of-squares — NOT the built-in stddev, whose "
        "streaming (Welford) accumulation is partition-order-dependent "
        "and diverges between engines in the last ulps. From exact "
        "(n, Σx, Σx²) every engine derives bit-identical doubles. One "
        "aggregation + a broadcast stats join; the numerically-stable-"
        "at-scale caveat (catastrophic cancellation when σ ≪ μ) is "
        "accepted for 2-decimal prices with σ/μ ≈ 0.5.",
    tags=("aggregation", "statistics", "join"),
)
def part_price_zscore_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    price = dec("p_retailprice")
    stats = part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(price).alias("s1"),
        F.sum(price * price).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return (
        part.join(F.broadcast(stats), "p_type")
        .select(
            "p_partkey",
            "p_type",
            ((F.col("p_retailprice").cast("double") - mean) / F.sqrt(var))
            .cast("double")
            .alias("price_z"),
        )
        .orderBy("p_partkey")
    )


@register(
    "customer_revenue_pareto",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER ()                          AS total_rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey ASC) AS rnk,
             COUNT(*) OVER ()                          AS n_cust
      FROM per_cust
    )
    SELECT CAST(MIN(rnk) AS BIGINT)                       AS customers_for_80pct,
           CAST(MIN(CAST(rnk AS DOUBLE) / n_cust) AS DOUBLE)
                                                          AS customer_share,
           CAST(MIN(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE))
                AS DOUBLE)                                AS revenue_share
    FROM ranked
    WHERE CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) >= 0.8
    """,
    doc="Pareto concentration (the 80/20 query): smallest customer "
        "prefix covering 80% of revenue, via a deterministic cumulative "
        "decimal sum (revenue desc, custkey tiebreak). Spark side runs "
        "NO unpartitioned window: the running sum and rank come from "
        "the two-phase prefix computation in operators/ranking.py "
        "(range buckets + partitioned windows + broadcast bucket "
        "offsets), and the grand totals ride the same config-sized "
        "offsets collect as driver literals. Cumulative/total shares "
        "divide doubles cast from exact decimals. MIN over the "
        "qualifying prefix keeps the result a single stable row.",
    tags=("window", "aggregation", "bi"),
)
def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.ranking import global_rank

    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice", 18, 2)).alias("rev"))
        .withColumn("neg_rev", -F.col("rev"))
        # customer-cardinality intermediate: materialize once so the
        # helper's probe/offset jobs re-read it instead of re-running
        # the orders scan+agg (ContextCleaner reclaims the blocks).
        .localCheckpoint(eager=True)
    )
    ranked, totals = global_rank(
        per_cust, [("neg_rev", "o_custkey", "rnk")], sums=("rev",)
    )
    total_rev = F.lit(totals["rev"]).cast("double")
    n_cust = F.lit(totals["n"]).cast("double")
    rev_share = F.col("cum_rev").cast("double") / total_rev
    return (
        ranked.filter(rev_share >= 0.8)
        .agg(
            F.min("rnk").cast("bigint").alias("customers_for_80pct"),
            F.min(F.col("rnk").cast("double") / n_cust).alias(
                "customer_share"
            ),
            F.min(rev_share).cast("double").alias("revenue_share"),
        )
    )


def events_rolling_7d_active_users_approx_raw(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Raw sketch twin of events_rolling_7d_active_users: same
    day-grain pre-agg + broadcast day-dim range join, but the per-day
    count is approx_count_distinct (HyperLogLog++). At 100 TB this is
    the form that survives — HLL sketches are mergeable, so the
    partial aggregation combines map-side and the shuffle carries
    fixed-size sketches instead of user-id sets. Unregistered (HLL
    values are engine-specific); the REGISTERED form is the
    bounded-verdict twin below, and pytest (tests/test_approx.py)
    drives this raw form directly."""
    day_users = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    days = day_users.select("d").distinct().alias("days")
    du = day_users.alias("du")
    return (
        du.join(
            F.broadcast(days),
            (F.col("du.d") <= F.col("days.d"))
            & (F.col("du.d") > F.col("days.d") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy(F.date_format("days.d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.approx_count_distinct("du.user_id", rsd=0.02).alias(
                "active_users_7d_approx"
            )
        )
        .orderBy("day")
    )


@register(
    "events_rolling_7d_active_users_approx",
    oracle="""
    WITH day_users AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM day_users)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS active_users_7d,
           TRUE AS within_bound
    FROM days
    JOIN day_users du
      ON du.d <= days.d AND du.d > days.d - INTERVAL 7 DAY
    GROUP BY days.d
    ORDER BY days.d
    """,
    doc="Bounded-verdict form of the rolling-DAU HLL sketch: the same "
        "day-grain pre-agg + broadcast day-dim range join as the "
        "exact twin, but ONE aggregation pass computes both the exact "
        "rolling 7-day distinct count and approx_count_distinct("
        "rsd=0.02), and emits within_bound = |approx - exact| <= "
        "max(3, 0.1*exact) computed IN-PLAN. The oracle replays the "
        "exact twin's SQL and asserts the verdict TRUE, so the "
        "sketch's error contract is hash-checked per anchor day. The "
        "raw sketch twin (events_rolling_7d_active_users_approx_raw, "
        "unregistered) is the 100 TB form.",
    tags=("events", "window-agg", "distinct", "approx"),
)
def events_rolling_7d_active_users_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    day_users = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    days = day_users.select("d").distinct().alias("days")
    du = day_users.alias("du")
    exact = F.count_distinct("du.user_id").cast("bigint")
    approx = F.approx_count_distinct("du.user_id", rsd=0.02)
    bound = F.greatest(F.lit(3.0), F.lit(0.1) * exact.cast("double"))
    return (
        du.join(
            F.broadcast(days),
            (F.col("du.d") <= F.col("days.d"))
            & (F.col("du.d") > F.col("days.d") - F.expr("INTERVAL 7 DAY")),
        )
        .groupBy(F.date_format("days.d", "yyyy-MM-dd").alias("day"))
        .agg(
            exact.alias("active_users_7d"),
            F.coalesce(
                F.abs(approx.cast("double") - exact.cast("double")) <= bound,
                F.lit(False),
            ).alias("within_bound"),
        )
        .orderBy("day")
    )


MAD_K = 3.0


@register(
    "events_value_outliers_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med_v
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             ANY_VALUE(m.med_v) AS med_v,
             quantile_cont(abs(e.value - m.med_v), 0.5) AS mad_v
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e
    JOIN mad m ON e.event_type = m.event_type
    WHERE abs(e.value - m.med_v) > {MAD_K} * m.mad_v
    ORDER BY e.event_id
    """,
    doc=f"Robust outlier flagging via median absolute deviation "
        f"(|x − median| > {MAD_K}·MAD per event type): two aggregation "
        "passes — group medians, then medians of absolute deviations — "
        "each joined back broadcast (group-cardinality stats). Both "
        "engines interpolate the 0.5 quantile identically on the same "
        "doubles (proven by agg_percentiles), so the flag set is "
        "engine-exact. The mean/stddev alternative would be skew-"
        "sensitive AND order-dependent.",
    tags=("aggregation", "statistics", "join"),
)
def events_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med_v")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med_v").alias("med_v"),
            F.expr("percentile(abs(value - med_v), 0.5)").alias("mad_v"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med_v")) > MAD_K * F.col("mad_v"))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


HIST_LO = 0.0
HIST_WIDTH = 50.0
HIST_BUCKETS = 10


@register(
    "agg_value_histogram",
    oracle=f"""
    SELECT CAST(LEAST(FLOOR((value - {HIST_LO}) / {HIST_WIDTH}),
                      {HIST_BUCKETS - 1}) AS INTEGER)   AS bucket,
           CAST(COUNT(*) AS BIGINT)                      AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc=f"Fixed-width histogram of event values: {HIST_BUCKETS} "
        f"buckets of width {HIST_WIDTH} with a clamped overflow "
        "bucket. The bucket expression is the same FLOOR-of-division "
        "double op in both engines (bit-identical), the value sum is "
        "decimal-exact; one map-side projection + one aggregation.",
    tags=("aggregation", "histogram"),
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.least(
            F.floor((F.col("value") - HIST_LO) / HIST_WIDTH),
            F.lit(HIST_BUCKETS - 1),
        )
        .cast("int")
        .alias("bucket")
    )
    return (
        load(spark, sf_dir, "events")
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("bucket")
    )


@register(
    "events_user_lifecycle",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(MIN(ts), '{TS_FMT_DUCK}') AS first_seen,
           strftime(MAX(ts), '{TS_FMT_DUCK}') AS last_seen,
           CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS span_days,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
           CAST(CAST(COUNT(*) AS DOUBLE)
                / COUNT(DISTINCT CAST(ts AS DATE)) AS DOUBLE)
             AS events_per_active_day
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Per-user lifecycle profile: first/last seen, calendar span, "
        "distinct active days, events per active day — the standard "
        "user-level engagement rollup. One aggregation keyed on "
        "user_id; COUNT(DISTINCT date) expands to Spark's two-phase "
        "distinct aggregate automatically. Timestamps surface as "
        "formatted strings (hash-stable), the ratio is one exact "
        "integer division.",
    tags=("events", "aggregation", "product-analytics"),
)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), TS_FMT_SPARK).alias(
                "first_seen"
            ),
            F.date_format(F.max("ts"), TS_FMT_SPARK).alias(
                "last_seen"
            ),
            F.datediff(F.max("ts"), F.min("ts")).cast("bigint").alias(
                "span_days"
            ),
            F.count_distinct(F.to_date("ts")).alias("active_days"),
            (
                F.count(F.lit(1)).cast("double")
                / F.count_distinct(F.to_date("ts"))
            )
            .cast("double")
            .alias("events_per_active_day"),
        )
        .orderBy("user_id")
    )


@register(
    "events_activity_heatmap",
    oracle="""
    WITH q AS (
      SELECT
        -- Portable day-of-week: engines disagree on DOW numbering
        -- (Spark 1=Sun, DuckDB 0=Sun), so derive it from epoch days:
        -- 1970-01-01 was a Thursday; (days + 3) % 7 makes 0=Monday
        -- (day 0 maps to 3 = Thursday).
        CAST((epoch_us(ts) // 86400000000 + 3) % 7 AS BIGINT) AS dow,
        CAST(epoch_us(ts) // 3600000000 % 24 AS BIGINT)       AS hour_of_day,
        CAST(ROUND(value * 100) AS BIGINT)                    AS cents
      FROM events
    )
    SELECT dow, hour_of_day,
           CAST(COUNT(*) AS BIGINT)    AS n_events,
           CAST(SUM(cents) AS BIGINT)  AS total_cents
    FROM q
    GROUP BY dow, hour_of_day
    ORDER BY dow, hour_of_day
    """,
    doc="Day-of-week x hour-of-day activity heatmap (the classic "
        "engagement grid). DOW is derived from integer epoch "
        "arithmetic — (epoch_days + 3) % 7, 0 = Monday — because the "
        "built-in dayofweek() numbering differs between engines "
        "(Spark 1=Sunday, DuckDB 0=Sunday) and a silent off-by-one "
        "here is exactly the bug class the oracle exists to catch. "
        "One map-combinable aggregate onto a fixed 168-cell grid.",
    tags=("events", "aggregation", "product-analytics"),
)
def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        ((F.expr("unix_micros(ts) div 86400000000") + 3) % 7).alias("dow"),
        (F.expr("unix_micros(ts) div 3600000000") % 24).alias("hour_of_day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        q.groupBy("dow", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("dow", "hour_of_day")
    )


@register(
    "lineitem_ship_delay_stats",
    oracle="""
    WITH delays AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS delay_days,
             l.l_orderkey, l.l_linenumber
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT o_orderpriority, delay_days,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY delay_days, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM delays
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT)           AS n_lineitems,
           CAST(MIN(delay_days) AS BIGINT)  AS min_delay,
           CAST(MAX(delay_days) AS BIGINT)  AS max_delay,
           CAST(CAST(SUM(delay_days) AS DOUBLE) / MAX(n) AS DOUBLE)
                                            AS avg_delay,
           CAST(MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN delay_days END) AS BIGINT) AS p50_delay
    FROM ranked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Order-to-ship latency distribution per priority: the "
        "operational SLA query — a fact-fact join producing a derived "
        "time metric, then exact integer stats and a discrete median "
        "(same ceil(p*n) rank rule as agg_percentile_disc). The join "
        "shuffles on orderkey once; everything downstream is "
        "integer-exact.",
    tags=("join", "aggregation", "statistics", "timeseries"),
)
def lineitem_ship_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    delays = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias(
            "delay_days"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    wo = Window.partitionBy("o_orderpriority").orderBy(
        "delay_days", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = delays.select(
        "o_orderpriority",
        "delay_days",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    p50 = F.min(
        F.when(
            F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
            F.col("delay_days"),
        )
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("bigint").alias("n_lineitems"),
            F.min("delay_days").alias("min_delay"),
            F.max("delay_days").alias("max_delay"),
            (F.sum("delay_days").cast("double") / F.max("n"))
            .cast("double")
            .alias("avg_delay"),
            p50.cast("bigint").alias("p50_delay"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "events_signup_to_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN epoch_us(ts) END) AS first_signup_us,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS first_purchase_us
      FROM events
      GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_signup_users,
           CAST(SUM(CASE WHEN first_purchase_us > first_signup_us
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN first_purchase_us > first_signup_us
                    THEN (first_purchase_us - first_signup_us) // 60000000
                    END) AS BIGINT) AS min_minutes,
           CAST(MAX(CASE WHEN first_purchase_us > first_signup_us
                    THEN (first_purchase_us - first_signup_us) // 60000000
                    END) AS BIGINT) AS max_minutes,
           CAST(CAST(SUM(CASE WHEN first_purchase_us > first_signup_us
                         THEN (first_purchase_us - first_signup_us) // 60000000
                         END) AS DOUBLE)
                / SUM(CASE WHEN first_purchase_us > first_signup_us
                      THEN 1 ELSE 0 END) AS DOUBLE) AS avg_minutes
    FROM firsts
    WHERE first_signup_us IS NOT NULL
    """,
    doc="Activation latency: among users with a signup, how many later "
        "made their first purchase and how long that took (integer "
        "minutes from microsecond timestamps — no float time math). "
        "One conditional-MIN aggregate per user then a single global "
        "rollup; the per-user pass is map-combinable and the final "
        "result is one row at any scale.",
    tags=("events", "aggregation", "product-analytics", "timeseries"),
)
def events_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", us)).alias("su"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("pu"),
    )
    conv = F.col("pu") > F.col("su")
    mins = F.expr("(pu - su) div 60000000")
    return (
        firsts.filter(F.col("su").isNotNull())
        .agg(
            F.count(F.lit(1)).alias("n_signup_users"),
            F.sum(F.when(conv, 1).otherwise(0)).cast("bigint").alias(
                "n_converted"
            ),
            F.min(F.when(conv, mins)).cast("bigint").alias("min_minutes"),
            F.max(F.when(conv, mins)).cast("bigint").alias("max_minutes"),
            (
                F.sum(F.when(conv, mins)).cast("double")
                / F.sum(F.when(conv, 1).otherwise(0))
            )
            .cast("double")
            .alias("avg_minutes"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate)) AS last_order_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY last_order_us DESC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey)     AS f_score,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey)      AS m_score
      FROM per_cust
    )
    SELECT CAST(r_score AS INTEGER) AS r_score,
           CAST(f_score AS INTEGER) AS f_score,
           CAST(m_score AS INTEGER) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CASE WHEN r_score = 1 AND f_score <= 2 AND m_score <= 2
                THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'
                WHEN r_score >= 4 AND f_score >= 4 THEN 'lost'
                ELSE 'regular' END AS segment
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    doc="RFM customer segmentation: recency/frequency/monetary each "
        "binned into quintiles (NTILE semantics with deterministic "
        "custkey tiebreaks — score 1 = best), rolled up to the "
        "125-cell RFM grid with business segment labels. Spark side "
        "replaces the three global NTILE sorts (each a single-"
        "partition WindowExec) with three two-phase prefix ranks over "
        "the checkpointed per-customer aggregate (operators/"
        "ranking.py) and computes each quintile as arithmetic on "
        "(rank, n). Decimal-exact monetary totals.",
    tags=("aggregation", "window", "product-analytics"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_spark.functions.money import dec
    from etl_spark.operators.ranking import (
        global_rank,
        ntile_from_rank,
    )

    orders = load(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.unix_micros("o_orderdate")).alias("last_order_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(dec("o_totalprice", 18, 2)).alias("monetary"),
        )
        # DESC orders encoded as negated ASC keys for the rank helper.
        .select(
            "o_custkey",
            (-F.col("last_order_us")).alias("neg_r"),
            (-F.col("frequency")).alias("neg_f"),
            (-F.col("monetary")).alias("neg_m"),
        )
        # customer-cardinality intermediate, re-read by the rank's
        # probe/offset jobs: materialize once (ContextCleaner reclaims
        # the blocks when the DataFrame is collected).
        .localCheckpoint(eager=True)
    )
    # ONE probe + ONE offsets action for all three ranks (r10 opt,
    # guide §1.2): one call per key would cost 2 config-sized actions
    # apiece (6 total, each a full pass over per_cust).
    ranked, totals = global_rank(
        per_cust,
        [
            ("neg_r", "o_custkey", "rn_r"),
            ("neg_f", "o_custkey", "rn_f"),
            ("neg_m", "o_custkey", "rn_m"),
        ],
    )
    n = totals["n"]
    scored = ranked.select(
        "o_custkey",
        ntile_from_rank(F.col("rn_r"), n, 5).alias("r_score"),
        ntile_from_rank(F.col("rn_f"), n, 5).alias("f_score"),
        ntile_from_rank(F.col("rn_m"), n, 5).alias("m_score"),
    )
    segment = (
        F.when(
            (F.col("r_score") == 1)
            & (F.col("f_score") <= 2)
            & (F.col("m_score") <= 2),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "lost")
        .otherwise("regular")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            segment.alias("segment"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "events_stickiness_monthly",
    oracle="""
    WITH day_users AS (
      SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM day_users GROUP BY d
    ),
    mau AS (
      SELECT date_trunc('month', d) AS m,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM day_users GROUP BY 1
    )
    SELECT strftime(m.m, '%Y-%m') AS month,
           m.mau,
           CAST(COUNT(*) AS BIGINT) AS active_days,
           CAST(SUM(d.dau) AS BIGINT) AS dau_day_sum,
           CAST(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / m.mau AS DOUBLE)
             AS stickiness
    FROM mau m
    JOIN dau d ON date_trunc('month', d.d) = m.m
    GROUP BY m.m, m.mau
    ORDER BY month
    """,
    doc="Monthly stickiness (avg DAU / MAU — the canonical engagement "
        "ratio): raw events collapse once to DISTINCT (day, user); "
        "DAU and MAU both derive from that day-grain table, joined on "
        "the month. The ratio is exact integer sums divided in a "
        "fixed order (sum/days/mau), so both engines emit the "
        "identical double. Only the (day, user) pre-aggregation "
        "touches raw events.",
    tags=("events", "aggregation", "product-analytics", "distinct"),
)
def events_stickiness_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    day_users = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    dau = day_users.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    mau = day_users.groupBy(
        F.date_trunc("month", "d").alias("m")
    ).agg(F.count_distinct("user_id").alias("mau"))
    return (
        mau.join(dau, F.date_trunc("month", dau.d) == mau.m)
        .groupBy(F.date_format("m", "yyyy-MM").alias("month"), "mau")
        .agg(
            F.count(F.lit(1)).alias("active_days"),
            F.sum("dau").cast("bigint").alias("dau_day_sum"),
            (
                F.sum("dau").cast("double")
                / F.count(F.lit(1))
                / F.col("mau")
            )
            .cast("double")
            .alias("stickiness"),
        )
        .select("month", "mau", "active_days", "dau_day_sum", "stickiness")
        .orderBy("month")
    )


@register(
    "events_type_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type,
           CAST(n AS BIGINT) AS n_transitions,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY prev_type) AS p_next
    FROM trans
    ORDER BY prev_type, next_type
    """,
    doc="First-order event-type transition matrix (the Markov-chain "
        "view of user journeys): consecutive event pairs per user via "
        "one lag window ordered by (ts, event_id), counted per "
        "(prev, next) cell, with the row-conditional probability "
        "p(next | prev) = n / row-total — the matrix behind "
        "next-action prediction, journey anomaly detection and funnel "
        "design (a high error→error cell is a stuck-retry loop). "
        "Engine-exact: counts are integers and each probability is ONE "
        "division of the cell count by its row sum (the row-total "
        "window is over the ≤25-cell matrix, not the events). Plan: "
        "the lag window shuffles once on user_id (key cardinality "
        "scales with data), the transition aggregate is map-combinable "
        "on a ≤k² key, and the probability window runs over the tiny "
        "matrix — at 100 TB the only data-sized stage is the one "
        "user-keyed window.",
    tags=("events", "analytics", "window", "markov"),
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    trans = seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    w_row = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row)
        ).alias("p_next"),
    ).orderBy("prev_type", "next_type")


@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS opened,
             GREATEST(CAST(o.o_orderdate AS DATE),
                      CAST(MAX(l.l_shipdate) AS DATE)) AS closed
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT opened AS day, COUNT(*) AS n_opened,
             CAST(0 AS BIGINT) AS n_closed
      FROM spans GROUP BY opened
      UNION ALL
      SELECT closed AS day, CAST(0 AS BIGINT), COUNT(*)
      FROM spans GROUP BY closed
    ),
    daily AS (
      SELECT day, SUM(n_opened) AS n_opened, SUM(n_closed) AS n_closed
      FROM deltas GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed,
           CAST(SUM(n_opened - n_closed) OVER (
             ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS open_backlog
    FROM daily
    ORDER BY day
    """,
    doc="Daily end-of-day open-order backlog via sweep line (interval "
        "stabbing): each order is an interval [order date, "
        "last ship date] (orders with no lineitems have no interval "
        "and are out of scope); instead of joining every day against "
        "every "
        "interval (days × orders), emit a +1 delta at open and a -1 "
        "at close, aggregate deltas per day (map-combinable), and run "
        "ONE cumulative sum — backlog(d) = opened≤d − closed≤d. The "
        "close is clamped to GREATEST(opened, last ship): ~20% of "
        "this corpus's orders have every line shipped BEFORE the "
        "order date, and an unclamped close would open them forever "
        "(they count as open for zero full days instead). Scale "
        "shape: the only data-sized stages are the orderkey fact-fact "
        "join and the per-day delta aggregates; the cumsum window "
        "runs over the calendar-bounded daily frame (thousands of "
        "rows at ANY corpus size — same allowance class as "
        "orders_monthly_revenue_growth).",
    tags=("analytics", "orders", "sweepline", "window"),
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .join(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("closed_ts"))
        .select(
            F.to_date("o_orderdate").alias("opened"),
            # clamp: all-lines-shipped-early orders close the day they
            # open instead of staying in the backlog forever
            F.greatest(
                F.to_date("o_orderdate"), F.to_date("closed_ts")
            ).alias("closed"),
        )
    )
    # ONE evaluation of the span subtree (r10 opt): the former
    # opens/closes branches each re-ran the orderkey fact-fact join +
    # aggregate just to count one endpoint; a map-side explode emits
    # both (+open, +close) delta rows per span from a single pass, and
    # one map-combinable aggregate replaces union + re-aggregate.
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("opened").alias("day"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("c"),
                ),
                F.struct(
                    F.col("closed").alias("day"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("c"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    daily = deltas.groupBy("day").agg(
        F.sum("o").cast("bigint").alias("n_opened"),
        F.sum("c").cast("bigint").alias("n_closed"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w).alias(
            "open_backlog"
        ),
    ).orderBy("day")
