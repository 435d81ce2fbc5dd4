"""Data-quality auditing: constraint checks and column profiling.

Every 100 TB pipeline runs these before training jobs do — a dangling
foreign key or an unexpected null column silently poisons every
downstream join/aggregate. Both queries are expressed so the full
audit is ONE pass over each fact table:

* the constraint audit is a union of anti-join counts (each check is
  a broadcast or shuffle anti join followed by a count — no data ever
  leaves the executors, only one BIGINT per check);
* the profile computes every column's statistics in a single
  wide aggregate over the table (one scan, one single-row result),
  then reshapes the row to check-per-row form with ``stack`` — the
  same Expand-based reshape as the unpivot query.

The expected output on healthy data IS mostly zeros — the audit's
value is that a regression (a writer dropping referential integrity,
a schema change introducing nulls) flips a hashed value the driver
pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load
from etl_spark.plans.registry import register


@register(
    "dq_constraint_audit",
    oracle="""
    SELECT 'lineitem.orderkey->orders' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem.partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders.custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'orders.orderkey unique',
           CAST((SELECT COUNT(*) FROM (
                   SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING COUNT(*) > 1))
                AS BIGINT)
    UNION ALL
    SELECT 'customer without orders',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey))
                AS BIGINT)
    ORDER BY check_name
    """,
    doc="Referential-integrity and uniqueness audit as one result set: "
        "dangling-FK counts (lineitem->orders/part, orders->customer), "
        "a primary-key uniqueness check, and an orphan-coverage count "
        "(customers with no orders — nonzero by nature, so the audit "
        "hash is never vacuously all-zero). Each check is an anti "
        "join (dim side broadcast when small) feeding a single-row "
        "count; the union of five scalar rows costs five scans but "
        "zero data shuffles — at 100 TB each scan is "
        "column-pruned to the key being checked.",
    tags=("quality", "join", "aggregation"),
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    cust = load(spark, sf_dir, "customer")

    def count_of(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    checks = [
        count_of(
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ),
            "lineitem.orderkey->orders",
        ),
        count_of(
            li.join(
                part.select("p_partkey"),
                li["l_partkey"] == F.col("p_partkey"),
                "left_anti",
            ),
            "lineitem.partkey->part",
        ),
        count_of(
            orders.join(
                cust.select("c_custkey"),
                orders["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            ),
            "orders.custkey->customer",
        ),
        count_of(
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
            "orders.orderkey unique",
        ),
        count_of(
            cust.join(
                orders.select("o_custkey"),
                cust["c_custkey"] == F.col("o_custkey"),
                "left_anti",
            ),
            "customer without orders",
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


@register(
    "dq_profile_orders",
    oracle="""
    WITH p AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(SUM(CASE WHEN o_orderkey    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_key,
        CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
        CAST(SUM(CASE WHEN o_totalprice  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
        CAST(COUNT(DISTINCT o_orderkey)    AS BIGINT) AS nd_key,
        CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
        CAST(COUNT(DISTINCT o_totalprice)  AS BIGINT) AS nd_price,
        CAST(MIN(o_orderkey) AS VARCHAR) AS min_key,
        CAST(MAX(o_orderkey) AS VARCHAR) AS max_key,
        CAST(MIN(o_orderstatus) AS VARCHAR) AS min_status,
        CAST(MAX(o_orderstatus) AS VARCHAR) AS max_status,
        CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS min_price,
        CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_price
      FROM orders
    )
    SELECT col_name, n_rows, n_nulls, n_distinct, min_value, max_value
    FROM (
      SELECT 'o_orderkey' AS col_name, n_rows, nn_key AS n_nulls,
             nd_key AS n_distinct, min_key AS min_value, max_key AS max_value
      FROM p
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status,
             min_status, max_status FROM p
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price,
             min_price, max_price FROM p
    )
    ORDER BY col_name
    """,
    doc="Single-pass column profile of the orders table (null counts, "
        "exact distinct counts, min/max rendered to engine-portable "
        "strings — doubles via DECIMAL(18,2) because raw "
        "double->string differs between Java and C formatting): ALL "
        "columns' statistics come from ONE wide aggregate (one scan, "
        "one single-row result; the distinct counts expand per-column "
        "but Spark plans them as one multi-distinct aggregate), then "
        "the row is reshaped to profile-row-per-column with stack — "
        "the Expand pattern, so the reshape is free. At 100 TB "
        "swap COUNT(DISTINCT) for approx_count_distinct per the "
        "approx twins.",
    tags=("quality", "aggregation", "reshape"),
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    p = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nn_key"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nn_status"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nn_price"),
        F.count_distinct("o_orderkey").alias("nd_key"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.min("o_orderkey").cast("string").alias("min_key"),
        F.max("o_orderkey").cast("string").alias("max_key"),
        F.min("o_orderstatus").cast("string").alias("min_status"),
        F.max("o_orderstatus").cast("string").alias("max_status"),
        F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("min_price"),
        F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("max_price"),
    )
    return (
        p.select(
            F.expr(
                """
                stack(3,
                  'o_orderkey',    n_rows, nn_key,    nd_key,    min_key,    max_key,
                  'o_orderstatus', n_rows, nn_status, nd_status, min_status, max_status,
                  'o_totalprice',  n_rows, nn_price,  nd_price,  min_price,  max_price
                ) AS (col_name, n_rows, n_nulls, n_distinct, min_value, max_value)
                """
            )
        )
        .orderBy("col_name")
    )


_STOPWORDS_SQL = "['the', 'a', 'of', 'and', 'to', 'in']"


@register(
    "dq_quality_by_segment",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                      t -> list_contains({_STOPWORDS_SQL}, t))) AS BIGINT)
               AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct,
             CASE WHEN len(string_split(text, ' ')) < 20 THEN 1 ELSE 0 END
               AS is_short
      FROM documents WHERE text IS NOT NULL
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)        AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)   AS total_tokens,
           CAST(CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS DOUBLE)
             AS stopword_ratio,
           CAST(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_tokens) AS DOUBLE)
             AS distinct_ratio,
           CAST(SUM(is_short) AS BIGINT)   AS n_short_docs
    FROM per_doc
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="Quality dashboard by corpus segment: the per-document quality "
        "signals (text_quality_score) rolled up per (lang, source) as "
        "ratios of EXACT integer sums — corpus-level stopword and "
        "lexical-diversity rates, short-doc counts — the view a "
        "curator uses to set per-segment gate thresholds before "
        "running pipeline_curate_corpus. One map-combinable aggregate; "
        "per-doc counts are in-row array math, no explode.",
    tags=("quality", "llm", "text", "aggregation", "curation"),
)
def dq_quality_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    stop_arr = F.array(
        *[F.lit(s) for s in ("the", "a", "of", "and", "to", "in")]
    )
    per_doc = docs.select(
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(stop_arr, t))
        ).cast("bigint").alias("n_stop"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        F.when(F.size(toks) < 20, 1).otherwise(0).alias("is_short"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_stop").cast("double") / F.sum("n_tokens"))
            .cast("double")
            .alias("stopword_ratio"),
            (F.sum("n_distinct").cast("double") / F.sum("n_tokens"))
            .cast("double")
            .alias("distinct_ratio"),
            F.sum("is_short").cast("bigint").alias("n_short_docs"),
        )
        .orderBy("lang", "source")
    )


# Order-independent table checksum: the reconciliation primitive for
# engine/system migrations — two systems agree on a table iff every
# group's (n, xor, modsum) triple agrees, with NO sorting and NO row
# transfer. The 60-bit hash keeps SUM within bigint at any real row
# count (modsum term is < 2^31, so 2^32 rows fit with headroom).
_CK_MOD = 2147483647  # 2^31 - 1 (Mersenne), like the MinHash mix
# Canonical row rendering: every column cast to VARCHAR with an
# engine-agreed format (decimal keeps its scale: '123.40' in both;
# timestamps via the shared strftime pattern), joined with '|'.
_CK_ROW_DUCK = (
    "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
    " || '|' || o_orderstatus || '|' ||"
    " CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS VARCHAR) || '|' ||"
    " strftime(o_orderdate, '%Y-%m-%d') || '|' || o_orderpriority"
)


@register(
    "dq_table_checksum",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT)      AS n_rows,
           CAST(bit_xor(h) AS BIGINT)    AS xor_checksum,
           CAST(SUM(h % {_CK_MOD}) AS BIGINT) AS modsum_checksum
    FROM (
      SELECT o_orderstatus, {md5_int_sql(_CK_ROW_DUCK, 15)} AS h
      FROM orders
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Order-independent per-group table checksum for cross-system "
        "reconciliation (the first thing a team migrating engines "
        "runs): each row renders to a canonical '|'-joined string "
        "(decimals keep scale, dates via the shared strftime), hashes "
        "to a 60-bit md5-prefix integer — bit-identical in both "
        "engines — and each o_orderstatus group aggregates (COUNT, "
        "BIT_XOR, SUM of h mod 2^31-1). XOR catches any single-row "
        "difference but cancels on even multiplicities; the modular "
        "sum breaks that cancellation; the count pins cardinality. "
        "All three are commutative — NO sort, NO row movement beyond "
        "one map-combinable groupBy on a 3-value key: the shuffle is "
        "three rows per partition at 100 TB, and two systems compare "
        "tables by exchanging a handful of integers.",
    tags=("quality", "checksum", "aggregation"),
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(14,2)").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    h = md5_int(row_str, 15)
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.sum(F.col("h") % _CK_MOD).alias("modsum_checksum"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "dq_freshness_by_source",
    oracle=f"""
    WITH per AS (
      SELECT event_type,
             MAX(ts) AS latest_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(latest_ts) AS global_ts FROM per)
    SELECT per.event_type,
           strftime(per.latest_ts, '{TS_FMT_DUCK}') AS latest_ts,
           CAST((epoch_us(g.global_ts) - epoch_us(per.latest_ts)) // 60000000
                AS BIGINT) AS lag_minutes,
           per.n_events
    FROM per CROSS JOIN g
    ORDER BY per.event_type
    """,
    doc="Per-stream freshness audit — the first alert a pipeline "
        "on-call wires up: each event stream's newest timestamp and "
        "its lag behind the freshest stream, in exact integer minutes "
        "(microsecond subtraction then integer division — no float "
        "time math). A stream whose lag grows monotonically has "
        "stalled upstream. One map-combinable groupBy on a 5-value "
        "key plus a 1-row global aggregate joined as a broadcast "
        "literal; shuffle is k rows per partition at any scale.",
    tags=("quality", "freshness", "aggregation"),
)
def dq_freshness_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("latest_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    g = per.agg(F.max("latest_ts").alias("global_ts"))
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.date_format("latest_ts", TS_FMT_SPARK).alias(
                "latest_ts"
            ),
            # integer floor-division on BOTH sides: double division +
            # cast would truncate in Spark but round in DuckDB
            F.expr(
                "(unix_micros(global_ts) - unix_micros(latest_ts))"
                " div 60000000"
            )
            .cast("bigint")
            .alias("lag_minutes"),
            "n_events",
        )
        .orderBy("event_type")
    )
