"""Statistical aggregate family: correlation/regression from exact
sums, arg-min/arg-max, boolean/bitwise aggregates, ordered string
aggregation, deterministic mode.

The reference has no aggregates at all (SURVEY.md §2.2 "Aggregations"
— reference main.py:109 carries total_count but never uses it); these
extend the §2.2 aggregation family with the statistical surface an
analytics user expects.

Determinism design (same convention as part_price_zscore_by_type):
floating-point AGGREGATION is banned — corr/slope/intercept are
derived as doubles from DECIMAL-exact (n, Σx, Σy, Σxy, Σx², Σy²), so
both engines compute bit-identical results from identical integers.
Built-in corr()/regr_slope() use order-dependent streaming
accumulation and would diverge between engines in the last ulps.

Scale posture: every query here is one map-side-combinable groupBy on
a low-cardinality key (event_type / priority / returnflag) — partial
aggregation makes the shuffle k rows per partition regardless of input
size. The mode query shuffles (group, value) pairs, bounded by the
distinct-value count, then a window over per-group value counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.money import dec
from etl_spark.io import load
from etl_spark.operators.ranking import first_per_key
from etl_spark.plans.registry import register


def _cents(col: str) -> F.Column:
    """2-decimal double → exact integer cents (audit_rate_precision
    validates the 2-decimal assumption for events.value)."""
    return F.round(F.col(col) * 100).cast("bigint")


@register(
    "stats_linfit_value_on_k",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS x,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS syy
      FROM q GROUP BY event_type
    )
    SELECT event_type, n,
           CAST((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0)
                AS DOUBLE) AS corr_xy,
           CAST((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                AS DOUBLE) AS slope,
           CAST((CAST(sy AS DOUBLE)
                 - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                   * CAST(sx AS DOUBLE)) / n
                AS DOUBLE) AS intercept
    FROM s
    ORDER BY event_type
    """,
    doc="Pearson correlation + OLS fit of value-cents on the JSON prop "
        "k, per event type, derived from DECIMAL-exact sufficient "
        "statistics (n, Σx, Σy, Σxy, Σx², Σy²) — never the built-in "
        "corr()/regr_slope(), whose streaming accumulation is "
        "partition-order-dependent. One map-combinable pass; the "
        "shuffle is 6 numbers per (partition, group).",
    tags=("aggregation", "statistics"),
)
def stats_linfit_value_on_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        _cents("value").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    )
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    # Degenerate groups (single point, or zero variance after NULL
    # x/y rows drop out of the sums) get NULL, matching the oracle's
    # NULLIF guard — never a DIVIDE_BY_ZERO abort under ANSI mode.
    slope = cov_n / F.nullif(var_x, F.lit(0.0))
    return s.select(
        "event_type",
        "n",
        (cov_n / F.nullif(F.sqrt(var_x * var_y), F.lit(0.0)))
        .cast("double")
        .alias("corr_xy"),
        slope.cast("double").alias("slope"),
        ((sy - slope * sx) / n).cast("double").alias("intercept"),
    ).orderBy("event_type")


@register(
    "stats_minmax_by_priority",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(o_totalprice AS DECIMAL(14,2)) AS price,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey
               AS tie_key
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)             AS n_orders,
           arg_max(o_orderkey, tie_key)         AS priciest_orderkey,
           CAST(MAX(price) AS DOUBLE)           AS max_price,
           arg_min(o_orderkey, tie_key)         AS cheapest_orderkey,
           CAST(MIN(price) AS DOUBLE)           AS min_price
    FROM q
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="arg-min/arg-max (Spark max_by/min_by, DuckDB arg_max/arg_min) "
        "per priority, made deterministic under price ties by ranking on "
        "cents*1e7 + orderkey (orderkey < 1e7 in every testdata SF; at "
        "larger key ranges widen the multiplier or rank on a struct). "
        "Single map-combinable aggregation — the window-free form of "
        "window_latest_order_per_customer's pattern.",
    tags=("aggregation", "statistics"),
)
def stats_minmax_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    tie_key = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(10000000)
        + F.col("o_orderkey")
    )
    q = orders.select(
        "o_orderpriority",
        "o_orderkey",
        dec("o_totalprice").alias("price"),
        tie_key.alias("tie_key"),
    )
    return (
        q.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max_by("o_orderkey", "tie_key").alias("priciest_orderkey"),
            F.max("price").cast("double").alias("max_price"),
            F.min_by("o_orderkey", "tie_key").alias("cheapest_orderkey"),
            F.min("price").cast("double").alias("min_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "stats_bool_bit_events",
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)     AS n_events,
           COALESCE(bool_and(cents > 0), TRUE)  AS all_value_positive,
           COALESCE(bool_or(k >= 95), FALSE)    AS any_high_k,
           CAST(bit_and(k) AS BIGINT)   AS k_bit_and,
           CAST(bit_or(k) AS BIGINT)    AS k_bit_or,
           CAST(bit_xor(k) AS BIGINT)   AS k_bit_xor
    FROM q
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Boolean (bool_and/bool_or = ANSI EVERY/ANY) and bitwise "
        "(bit_and/or/xor) aggregates per event type. All are "
        "associative-commutative and map-combinable — exact at any "
        "scale, no float anywhere.",
    tags=("aggregation", "statistics"),
)
def stats_bool_bit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        _cents("value").alias("cents"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # All-NULL groups take the vacuous identity (AND of
            # nothing = TRUE, OR of nothing = FALSE) in both engines.
            F.coalesce(F.bool_and(F.col("cents") > 0), F.lit(True)).alias(
                "all_value_positive"
            ),
            F.coalesce(F.bool_or(F.col("k") >= 95), F.lit(False)).alias(
                "any_high_k"
            ),
            F.bit_and("k").alias("k_bit_and"),
            F.bit_or("k").alias("k_bit_or"),
            F.bit_xor("k").alias("k_bit_xor"),
        )
        .orderBy("event_type")
    )


@register(
    "stats_string_agg_nations",
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT)                    AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    doc="Ordered string aggregation (LISTAGG): Spark expresses the "
        "deterministic form as array_join(array_sort(collect_list())) — "
        "collect_list alone is partition-order-dependent, the sort makes "
        "it well-defined. Broadcast dim-dim join; collect_list is safe "
        "only because group size is bounded (nations per region), which "
        "is the documented contract for every collect_* in this engine.",
    tags=("aggregation", "join", "string"),
)
def stats_string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations_csv"
            ),
        )
        .orderBy("r_name")
    )


@register(
    "stats_mode_tax",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, tax_cents
    ),
    ranked AS (
      SELECT l_returnflag, tax_cents, cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cnt DESC, tax_cents ASC) AS rn
      FROM counts
    )
    SELECT l_returnflag,
           CAST(tax_cents AS DOUBLE) / 100 AS mode_tax,
           cnt AS mode_count
    FROM ranked WHERE rn = 1
    ORDER BY l_returnflag
    """,
    doc="Deterministic MODE: the built-in mode() breaks ties "
        "arbitrarily in both engines, so this takes the explicit "
        "count-then-rank form with a smallest-value tiebreak. Two "
        "map-combinable phases: shuffle bounded by distinct (flag, tax) "
        "pairs, then a window over that tiny grouped set.",
    tags=("aggregation", "statistics", "window"),
)
def stats_mode_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", _cents("l_tax").alias("tax_cents")
    )
    counts = li.groupBy("l_returnflag", "tax_cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        first_per_key(counts, ["l_returnflag"], F.desc("cnt"), F.asc("tax_cents"))
        .select(
            "l_returnflag",
            (F.col("tax_cents").cast("double") / 100).alias("mode_tax"),
            F.col("cnt").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_equidepth_deciles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(14,2)) AS price,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(price) AS DOUBLE) AS lo_price,
           CAST(MAX(price) AS DOUBLE) AS hi_price,
           CAST(SUM(price) AS DOUBLE) AS decile_revenue
    FROM ranked
    GROUP BY decile
    ORDER BY decile
    """,
    doc="Equi-DEPTH histogram with NTILE(10) semantics: each bucket "
        "holds the same row count and the bucket edges are the "
        "empirical deciles — the complement of agg_value_histogram's "
        "equi-width buckets, with ties broken by the (totalprice, "
        "orderkey) sort in both engines. Spark side avoids the global "
        "NTILE window (a single-partition WindowExec): exact global "
        "ranks come from the two-phase prefix computation in "
        "operators/ranking.py (quantile-probe range buckets + "
        "partitioned windows + broadcast offsets), and the NTILE "
        "bucket is pure arithmetic on (rank, n). Decimal-exact "
        "revenue sums.",
    tags=("aggregation", "statistics", "window"),
)
def agg_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.ranking import global_rank, ntile_from_rank

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", dec("o_totalprice").alias("price")
    )
    ranked, totals = global_rank(
        orders, [("o_totalprice", "o_orderkey", "rn")]
    )
    return (
        ranked.select(
            "price",
            ntile_from_rank(F.col("rn"), totals["n"], 10).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("price").cast("double").alias("lo_price"),
            F.max("price").cast("double").alias("hi_price"),
            F.sum("price").cast("double").alias("decile_revenue"),
        )
        .orderBy("decile")
    )


@register(
    "agg_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DECIMAL(14,2)) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN price END) AS DOUBLE) AS p50_disc,
           CAST(MIN(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                    THEN price END) AS DOUBLE) AS p90_disc
    FROM ranked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="Discrete percentiles (PERCENTILE_DISC semantics: an actual "
        "data value, never interpolated — required when the quantile "
        "must be a realizable value, e.g. a price or latency). Both "
        "engines state the same explicit rank formula (value at row "
        "ceil(p*n) of the (price, orderkey)-sorted group) rather than "
        "trusting builtin disc-percentile tie rules to agree. "
        "Complements agg_percentiles (interpolated) and "
        "agg_approx_percentiles (sketch).",
    tags=("aggregation", "statistics", "window"),
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "o_orderpriority",
        dec("o_totalprice").alias("price"),
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def disc(p: float):
        at = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.min(F.when(F.col("rn") == at, F.col("price")))

    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            disc(0.5).cast("double").alias("p50_disc"),
            disc(0.9).cast("double").alias("p90_disc"),
        )
        .orderBy("o_orderpriority")
    )


WINSOR_LO = 0.05
WINSOR_HI = 0.95


@register(
    "stats_winsorized_value",
    oracle=f"""
    WITH ev AS (
      -- NULL value rows are excluded BEFORE ranking: Spark ASC puts
      -- NULLs first and DuckDB last, so a NULL would shift the two
      -- engines' rank positions of the cuts differently.
      SELECT * FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM ev
    ),
    cuts AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(ceil({WINSOR_LO} * n) AS BIGINT)
                      THEN value END) AS p_lo,
             MIN(CASE WHEN rn = CAST(ceil({WINSOR_HI} * n) AS BIGINT)
                      THEN value END) AS p_hi
      FROM ranked
      GROUP BY event_type
    ),
    clamped AS (
      SELECT e.event_type, c.p_lo, c.p_hi,
             LEAST(GREATEST(e.value, c.p_lo), c.p_hi) AS wv,
             CASE WHEN e.value < c.p_lo THEN 1 ELSE 0 END AS lo,
             CASE WHEN e.value > c.p_hi THEN 1 ELSE 0 END AS hi
      FROM ev e JOIN cuts c ON e.event_type = c.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)  AS n,
           ANY_VALUE(p_lo)           AS p_lo,
           ANY_VALUE(p_hi)           AS p_hi,
           CAST(SUM(lo) AS BIGINT)   AS n_clamped_lo,
           CAST(SUM(hi) AS BIGINT)   AS n_clamped_hi,
           CAST(SUM(CAST(wv AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                                     AS winsorized_mean
    FROM clamped
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=f"Winsorized robust mean per event type: values below the "
        f"DISCRETE p{int(WINSOR_LO*100):02d} / above the discrete "
        f"p{int(WINSOR_HI*100)} are CLAMPED to the cut (not dropped — "
        "winsorizing keeps n and downweights tails, the standard "
        "robust-mean for metrics with fat-tailed junk, e.g. bot "
        "traffic in 'value'). Cuts are PERCENTILE_DISC-style actual "
        "data values via the explicit rank formula (value at row "
        "ceil(p*n) of the (value, event_id)-sorted group, same "
        "contract as agg_percentile_disc) — interpolated percentiles "
        "were measured 1 ulp apart between the engines at sf1 "
        "(different but mathematically-equal interpolation "
        "expressions), which flipped boundary rows' clamp side; a "
        "data value cannot diverge. Cuts ride back BROADCAST (5 "
        "event types); the clamp is pure comparisons, and the mean "
        "is a decimal-exact SUM over clamped values divided by n. "
        "Skew note: the exact per-group rank is a per-group sort — "
        "at 100 TB swap the cuts CTE for approx_percentile and keep "
        "the clamp/mean pass unchanged.",
    tags=("aggregation", "statistics", "robust"),
)
def stats_winsorized_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values out before ranking (engines disagree on NULL sort
    # placement; fixtures have none today, pinned so a future NULL
    # can't silently shift the cut rank positions).
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type", "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def disc(p: float):
        at = F.ceil(F.lit(p) * F.col("n")).cast("bigint")
        return F.min(F.when(F.col("rn") == at, F.col("value")))

    cuts = ranked.groupBy("event_type").agg(
        disc(WINSOR_LO).alias("p_lo"),
        disc(WINSOR_HI).alias("p_hi"),
    )
    wv = F.least(F.greatest(F.col("value"), F.col("p_lo")), F.col("p_hi"))
    return (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.any_value("p_lo").alias("p_lo"),
            F.any_value("p_hi").alias("p_hi"),
            F.sum(
                F.when(F.col("value") < F.col("p_lo"), 1).otherwise(0)
            ).alias("n_clamped_lo"),
            F.sum(
                F.when(F.col("value") > F.col("p_hi"), 1).otherwise(0)
            ).alias("n_clamped_hi"),
            (
                F.sum(wv.cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )
