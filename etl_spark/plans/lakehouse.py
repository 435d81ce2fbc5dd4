"""Lakehouse table-maintenance queries: CDC changelog apply, SCD
Type 2 history construction + point-in-time lookup, and aggregate-view
delta maintenance.

These extend the incremental-snapshot family (`events_snapshot_merge`,
`etl/merge.py`, `etl/versioned.py`) with the other canonical
maintenance shapes a warehouse team runs daily:

* **CDC apply** — a change-data-capture log carries INSERT/UPDATE rows
  AND DELETE tombstones; applying it to a snapshot must let deletes
  remove keys and later inserts resurrect them. The reference's S14
  latest-wins dedup (main.py:149-157) is the upsert-only special case;
  this is the delete-aware general form (the shape Debezium/Delta CDF
  consumers run). Streaming twin: `streaming/cdc.py`.
* **SCD Type 2** — a dimension's attribute history as validity
  intervals [valid_from, valid_to) with an is_current flag: the
  gaps-and-islands construction every dimensional model needs when
  "what was the value AT THE TIME" questions must be answerable —
  plus the AS-OF lookup join that answers them (facts joined to the
  interval in force at fact time).
* **Aggregate-view delta maintenance** — distributive aggregates
  (count/sum) refresh from stored partials ⊕ batch partials under the
  same combine, no history replay: the third IVM shape next to
  latest-wins upsert and delete-aware CDC.

Scale notes: every shuffle in this module is keyed by the entity key
(user_id / o_custkey) — cardinality grows with the data, so the
partitioning holds at any scale; no global sort, no data-sized
broadcast, no driver collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.etl.merge import latest_wins_merge
from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.functions.timestamps import TS_FMT_DUCK, TS_FMT_SPARK
from etl_spark.io import load
from etl_spark.operators.caching import session_memo
from etl_spark.operators.ranking import first_per_key
from etl_spark.plans.registry import register
from etl_spark.streaming.cdc import events_as_changelog


# The synthetic CDC op mapping over the events table: an 'error' event
# retracts the user's record (DELETE tombstone); every other event
# upserts it. Deterministic and documented so the oracle states the
# identical rule.
CDC_DELETE_TYPE = "error"
# Arriving-batch slice, consistent with events_snapshot_merge /
# the dedup family's ingest slice.
CDC_BATCH_MOD = 10


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table as a changelog (user_id, event_id, ts,
    value, op): ``CDC_DELETE_TYPE`` events are tombstones."""
    return events_as_changelog(load(spark, sf_dir, "events"), CDC_DELETE_TYPE)


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Each user's newest row: latest ts, then highest event_id."""
    return first_per_key(
        df, ["user_id"], F.col("ts").desc(), F.col("event_id").desc()
    )


def _cdc_parts(log: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(snapshot, batch, merged)`` of the incremental apply: each
    user's latest changelog row before the arriving batch
    (``event_id % CDC_BATCH_MOD == 0``) and within it, both with
    tombstones kept — a snapshot that drops deletes early cannot tell
    "deleted" from "never seen" at merge time — and the two merged
    latest-(ts, event_id)-wins."""
    arriving = F.col("event_id") % CDC_BATCH_MOD == 0
    snapshot = _latest_per_user(log.filter(~arriving))
    batch = _latest_per_user(log.filter(arriving))
    merged = latest_wins_merge(
        snapshot, batch, keys=["user_id"], order_cols=["ts", "event_id"]
    )
    return snapshot, batch, merged


def cdc_apply_log(log: DataFrame) -> DataFrame:
    """Incremental delete-aware apply over a changelog DataFrame with
    columns (user_id, event_id, ts, value, op) — the engine behind
    ``cdc_apply_events``, reusable on any log (tests drive it with
    synthetic resurrection/tombstone shapes the fixtures may lack).
    Returns the merged state INCLUDING tombstone rows; callers filter
    ``op == 'U'`` to get the served view.
    """
    return _cdc_parts(log)[2]


@register(
    "cdc_apply_events",
    oracle=f"""
    WITH log AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN event_type = '{CDC_DELETE_TYPE}' THEN 'D'
                  ELSE 'U' END AS op
      FROM events
    ),
    latest AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM log
    )
    SELECT user_id, event_id,
           strftime(ts, '{TS_FMT_DUCK}') AS event_ts, value,
           event_id % {CDC_BATCH_MOD} = 0 AS via_batch
    FROM latest
    WHERE rn = 1 AND op = 'U'
    """,
    doc="Delete-aware CDC apply (the general form of S14's upsert-only "
        "latest-wins, reference main.py:149-157): the events stream is "
        f"read as a changelog — '{CDC_DELETE_TYPE}' events are DELETE "
        "tombstones, everything else upserts — and applied "
        "INCREMENTALLY: the materialized per-user snapshot built from "
        f"the historical slice (event_id % {CDC_BATCH_MOD} != 0) "
        "RETAINS tombstone rows (so a later batch can both delete a "
        "live key and resurrect a deleted one), the arriving batch is "
        "merged latest-(ts, event_id)-wins, and only then are "
        "tombstoned keys dropped from the served view. The ORACLE is "
        "the full changelog replay — green means incremental apply == "
        "replay, the invariant every CDC consumer (Debezium sink, "
        "Delta CDF reader) must hold. Cost: one key-partitioned window "
        "over snapshot ∪ batch; tombstone retention is O(deleted "
        "keys), compacted in real tables once all consumers pass the "
        "horizon.",
    tags=("lakehouse", "cdc", "merge", "incremental", "events"),
)
def cdc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = cdc_apply_log(_cdc_log(spark, sf_dir))
    # Serving view: tombstoned keys disappear only AFTER the merge.
    return merged.filter(F.col("op") == "U").select(
        "user_id",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("event_ts"),
        "value",
        (F.col("event_id") % CDC_BATCH_MOD == 0).alias("via_batch"),
    )


DATE_FMT_SPARK = "yyyy-MM-dd"
DATE_FMT_DUCK = "%Y-%m-%d"


def _priority_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 interval frame both queries share: one row per
    (o_custkey, version) run of equal priority with columns
    (o_custkey, version, o_orderpriority, vf, vt, n_orders) — vt is
    the next run's start timestamp, NULL for the current run. All
    three windows and the groupBy key on o_custkey."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    w_seq = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = orders.withColumn(
        "prev_prio", F.lag("o_orderpriority").over(w_seq)
    )
    runs = seq.withColumn(
        "version",
        F.sum(
            F.when(
                F.col("prev_prio").isNull()
                | (F.col("prev_prio") != F.col("o_orderpriority")),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .over(w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    intervals = runs.groupBy(
        "o_custkey", "version", "o_orderpriority"
    ).agg(
        F.min("o_orderdate").alias("vf"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w_ver = Window.partitionBy("o_custkey").orderBy("version")
    return intervals.withColumn("vt", F.lead("vf").over(w_ver))


@register(
    "scd2_priority_history",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_prio
      FROM orders
    ),
    runs AS (
      SELECT *,
             SUM(CASE WHEN prev_prio IS NULL
                        OR prev_prio <> o_orderpriority
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS version
      FROM seq
    ),
    intervals AS (
      SELECT o_custkey, CAST(version AS INTEGER) AS version,
             o_orderpriority,
             MIN(o_orderdate) AS vf,
             COUNT(*) AS n_orders
      FROM runs
      GROUP BY o_custkey, version, o_orderpriority
    )
    SELECT o_custkey, version, o_orderpriority,
           strftime(vf, '{DATE_FMT_DUCK}') AS valid_from,
           strftime(LEAD(vf) OVER (
             PARTITION BY o_custkey ORDER BY version
           ), '{DATE_FMT_DUCK}') AS valid_to,
           CAST(n_orders AS BIGINT) AS n_orders,
           LEAD(vf) OVER (
             PARTITION BY o_custkey ORDER BY version
           ) IS NULL AS is_current
    FROM intervals
    """,
    doc="SCD Type 2 dimension history (gaps-and-islands): each "
        "customer's order-priority timeline — ordered by (o_orderdate, "
        "o_orderkey) — is collapsed into consecutive runs of equal "
        "priority, emitted as versioned validity intervals "
        "[valid_from, valid_to) with valid_to = the NEXT run's start "
        "(NULL ⇒ is_current). This is the construction every "
        "dimensional model runs to answer 'what was the attribute AT "
        "the time of the fact'. Plan: lag → running-sum run ids → "
        "per-run aggregate → lead, ALL partitioned by o_custkey — the "
        "three windows and the groupBy share one key whose cardinality "
        "scales with the data, so one Exchange serves the whole chain "
        "and no partition outgrows its key's own history.",
    tags=("lakehouse", "scd2", "window", "orders"),
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    nxt = F.col("vt")
    return _priority_intervals(spark, sf_dir).select(
        "o_custkey",
        "version",
        "o_orderpriority",
        F.date_format("vf", DATE_FMT_SPARK).alias("valid_from"),
        F.date_format(nxt, DATE_FMT_SPARK).alias("valid_to"),
        "n_orders",
        nxt.isNull().alias("is_current"),
    )


@register(
    "scd2_asof_lookup",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_prio
      FROM orders
    ),
    runs AS (
      SELECT *,
             SUM(CASE WHEN prev_prio IS NULL
                        OR prev_prio <> o_orderpriority
                      THEN 1 ELSE 0 END) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS version
      FROM seq
    ),
    iv AS (
      SELECT o_custkey, version, o_orderpriority AS prio,
             MIN(o_orderdate) AS vf
      FROM runs GROUP BY o_custkey, version, o_orderpriority
    ),
    iv2 AS (
      -- ORDER BY version, not vf: same-date priority flips give two
      -- runs an EQUAL vf, and a vf-ordered LEAD is then tie-ambiguous
      -- (the earlier run must get the empty [d, d) interval)
      SELECT o_custkey, prio, vf, version,
             LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY version) AS vt
      FROM iv
    )
    SELECT o.o_orderpriority        AS prio_at_order,
           i.prio                   AS prio_at_ship,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(4,2))
                       - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                                    AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN iv2 i
      ON i.o_custkey = o.o_custkey
     AND (i.version = 1 OR l.l_shipdate >= i.vf)
     AND (i.vt IS NULL OR l.l_shipdate < i.vt)
    GROUP BY prio_at_order, prio_at_ship
    ORDER BY prio_at_order, prio_at_ship
    """,
    doc="Point-in-time (as-of) lookup against the SCD2 dimension — the "
        "query SCD2 tables exist to answer: each lineitem joins the "
        "priority interval IN FORCE AT ITS SHIP DATE (customer-equi "
        "join + half-open range containment; version 1 is effective "
        "from the beginning of time — the SCD2 backfill convention — "
        "so intervals tile the whole timeline and fact cardinality is "
        "preserved exactly, fenced in tests), then revenue rolls up by "
        "(priority at order, priority at ship). Lines shipping after "
        "the customer's regime changed land off the diagonal — the "
        "at-the-time attribution a current-state join silently gets "
        "wrong (~73% of lines drift in this corpus). Plan: the "
        "interval build reuses _priority_intervals (all windows "
        "o_custkey-keyed); the fact side joins orders on o_orderkey "
        "(SMJ fact-fact), then the dimension on o_custkey with the "
        "range predicate as a join filter — per-customer interval "
        "counts are bounded by that customer's own order history, so "
        "the non-equi filter multiplies within a key, never across "
        "keys; final aggregate is map-combinable on a ≤25-cell key.",
    tags=("lakehouse", "scd2", "asof", "join", "lineitem"),
)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.functions.money import dec, dsum, one_minus

    iv = _priority_intervals(spark, sf_dir).select(
        "o_custkey", F.col("o_orderpriority").alias("prio_at_ship"),
        "version", "vf", "vt",
    )
    facts = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey",
                F.col("o_orderpriority").alias("prio_at_order"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    joined = facts.join(
        iv,
        (facts["o_custkey"] == iv["o_custkey"])
        # version 1 is effective from the beginning of time (the
        # standard SCD2 backfill convention), so intervals tile
        # (-inf, +inf) and EVERY fact matches exactly one — this
        # corpus ships some lines before their order date
        & ((F.col("version") == 1) | (F.col("l_shipdate") >= F.col("vf")))
        & (F.col("vt").isNull() | (F.col("l_shipdate") < F.col("vt"))),
    )
    return (
        joined.groupBy("prio_at_order", "prio_at_ship")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(dec("l_extendedprice") * one_minus("l_discount"), "revenue"),
        )
        .orderBy("prio_at_order", "prio_at_ship")
    )


@register(
    "events_agg_merge",
    oracle=f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(SUM(CASE WHEN event_id % {CDC_BATCH_MOD} = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_from_batch
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="Incremental maintenance of an AGGREGATE materialized view — "
        "the third IVM shape next to latest-wins upsert "
        "(events_snapshot_merge) and delete-aware CDC "
        "(cdc_apply_events): per-(user, type) COUNT and decimal-exact "
        "SUM are DISTRIBUTIVE, so the materialized table stores the "
        "partials and a batch merges by aggregating the UNION of "
        "(stored partials ⊕ batch partials) with the same combine — "
        "no history replay, no per-key ordering state, O(|batch| + "
        "|touched keys|) per refresh. The oracle is the full groupBy "
        "over all events: green means partial-merge == recompute, the "
        "self-maintainability property that makes count/sum/min/max "
        "views refreshable from deltas alone (AVG rides as SUM/COUNT; "
        "MEDIAN/DISTINCT do NOT decompose this way — they need "
        "sketches or recompute, which is why the approx family "
        "exists). Plan: two partial aggregates and one merge "
        "aggregate, ALL keyed on (user_id, event_type) — partial "
        "aggregation below every Exchange, shuffle rows bounded by "
        "distinct keys per partition at any scale.",
    tags=("lakehouse", "merge", "incremental", "aggregation", "events"),
)
def events_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    arriving = F.col("event_id") % CDC_BATCH_MOD == 0

    def partials(df: DataFrame, from_batch: bool) -> DataFrame:
        # the stored shape of the materialized view: one partial row
        # per key with mergeable (count, exact-decimal sum) state
        n = F.count(F.lit(1))
        return df.groupBy("user_id", "event_type").agg(
            n.alias("n_events"),
            F.sum("v").alias("sum_v"),
            (n if from_batch else F.lit(0).cast("bigint")).alias(
                "n_from_batch"
            ),
        )

    stored = partials(ev.filter(~arriving), False)  # table before the batch
    batch = partials(ev.filter(arriving), True)
    return (
        stored.unionByName(batch)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_v").cast("double").alias("sum_value"),
            F.sum("n_from_batch").alias("n_from_batch"),
        )
        .select("user_id", "event_type", "n_events", "sum_value",
                "n_from_batch")
    )


@register(
    "cdc_snapshot_diff",
    oracle=f"""
    WITH log AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN event_type = '{CDC_DELETE_TYPE}' THEN 'D'
                  ELSE 'U' END AS op,
             event_id % {CDC_BATCH_MOD} = 0 AS arriving
      FROM events
    ),
    old_served AS (
      SELECT user_id, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) rn
        FROM log WHERE NOT arriving
      ) WHERE rn = 1 AND op = 'U'
    ),
    new_served AS (
      SELECT user_id, event_id, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) rn
        FROM log
      ) WHERE rn = 1 AND op = 'U'
    )
    SELECT COALESCE(n.user_id, o.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'I'
                WHEN n.user_id IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.event_id AS old_event_id,
           n.event_id AS new_event_id,
           o.value    AS old_value,
           n.value    AS new_value
    FROM old_served o
    FULL OUTER JOIN new_served n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_id <> n.event_id
    ORDER BY user_id
    """,
    doc="Snapshot DIFF — the inverse of cdc_apply_events: given the "
        "served view at the pre-batch horizon and the served view "
        "now, derive the changelog that transforms one into the other "
        "(I for new keys, U for keys whose winning row changed, D for "
        "keys the batch tombstoned). This is how teams BACKFILL a CDC "
        "feed when the source system only exposes snapshots, and the "
        "round-trip contract — apply(old, diff(old, new)) == new — is "
        "what makes the pair trustworthy (fenced in tests). Plan: two "
        "keyed latest-wins windows share the user_id Exchange with "
        "the full outer join; unchanged keys drop before anything "
        "leaves the join — output is O(changed keys), the property "
        "that makes snapshot-diff CDC feasible at 100 TB (the diff is "
        "batch-sized, not table-sized).",
    tags=("lakehouse", "cdc", "diff", "events"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _cdc_log(spark, sf_dir)

    def served(state: DataFrame) -> DataFrame:
        return state.filter(F.col("op") == "U").select(
            "user_id", "event_id", "value"
        )

    old = served(_cdc_parts(log)[0]).select(
        F.col("user_id").alias("o_user"),
        F.col("event_id").alias("old_event_id"),
        F.col("value").alias("old_value"),
    )
    new = served(_latest_per_user(log)).select(
        F.col("user_id").alias("n_user"),
        F.col("event_id").alias("new_event_id"),
        F.col("value").alias("new_value"),
    )
    joined = old.join(
        new, old["o_user"] == new["n_user"], "full_outer"
    )
    return (
        joined.filter(
            F.col("o_user").isNull()
            | F.col("n_user").isNull()
            | (F.col("old_event_id") != F.col("new_event_id"))
        )
        .select(
            F.coalesce("n_user", "o_user").alias("user_id"),
            F.when(F.col("o_user").isNull(), F.lit("I"))
            .when(F.col("n_user").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "old_event_id",
            "new_event_id",
            "old_value",
            "new_value",
        )
        .orderBy("user_id")
    )


def _refresh_parts(spark: SparkSession, sf_dir: str) -> dict:
    """The multi-hop incremental refresh, exposed hop by hop so the
    pytest fence can assert merged == full-recompute at EVERY hop (not
    just end to end). All hops incremental; nothing replays history.

    hop 1  snapshot view V1: latest-wins served view, refreshed by
           merging the arriving batch into the stored pre-batch state
           (``_cdc_parts``, the apply behind cdc_apply_log);
    hop 2  aggregate view V2 = per-day (count, exact-decimal sum) over
           V1, refreshed by RETRACTION deltas derived from hop 1's own
           change set (old row retracted, new row inserted) — delta
           PROPAGATION, the property that makes IVM compose across a
           DAG (a count/sum view is invertible, so deletes/updates
           ride as signed partials);
    hop 3  freshness audit over the refreshed snapshot (a 1-row global
           scalar joined back broadcast).
    """
    # hop 1: stored state (tombstones kept) + batch -> refreshed state
    old_state, batch, new_state = _cdc_parts(_cdc_log(spark, sf_dir))
    old_v = old_state.filter(F.col("op") == "U")
    new_v = new_state.filter(F.col("op") == "U")

    # hop 2: retraction delta over TOUCHED keys only (batch-sized)
    touched = batch.select("user_id").distinct()
    old_t = old_v.join(touched, "user_id", "leftsemi").select(
        F.col("user_id").alias("o_user"),
        F.col("event_id").alias("o_eid"),
        F.col("ts").alias("o_ts"),
        F.col("value").alias("o_val"),
    )
    new_t = new_v.join(touched, "user_id", "leftsemi").select(
        F.col("user_id").alias("n_user"),
        F.col("event_id").alias("n_eid"),
        F.col("ts").alias("n_ts"),
        F.col("value").alias("n_val"),
    )
    changed = old_t.join(
        new_t, old_t["o_user"] == new_t["n_user"], "full_outer"
    ).filter(
        F.col("o_user").isNull()
        | F.col("n_user").isNull()
        | (F.col("o_eid") != F.col("n_eid"))
    )
    minus = changed.filter(F.col("o_user").isNotNull()).select(
        F.to_date("o_ts").alias("day"),
        F.lit(-1).cast("bigint").alias("pn"),
        (-F.col("o_val").cast("decimal(18,6)")).alias("ps"),
    )
    plus = changed.filter(F.col("n_user").isNotNull()).select(
        F.to_date("n_ts").alias("day"),
        F.lit(1).cast("bigint").alias("pn"),
        F.col("n_val").cast("decimal(18,6)").alias("ps"),
    )
    stored_v2 = old_v.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
    )
    v2 = (
        stored_v2.unionByName(minus)
        .unionByName(plus)
        .groupBy("day")
        .agg(
            F.sum("pn").alias("n_users"),
            F.sum("ps").cast("double").alias("sum_value"),
        )
        .filter(F.col("n_users") > 0)
    )

    # hop 3: freshness of the refreshed snapshot
    g = new_v.agg(F.max(F.to_date("ts")).alias("gday"))
    audited = v2.crossJoin(F.broadcast(g)).select(
        F.date_format("day", DATE_FMT_SPARK).alias("day"),
        "n_users",
        "sum_value",
        F.datediff(F.col("gday"), F.col("day")).cast("bigint").alias(
            "lag_days"
        ),
    )
    return {
        "new_v": new_v,
        "old_v": old_v,
        "minus": minus,
        "plus": plus,
        "v2": v2,
        "out": audited.orderBy("day"),
    }


@register(
    "pipeline_incremental_refresh",
    oracle=f"""
    WITH log AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN event_type = '{CDC_DELETE_TYPE}' THEN 'D'
                  ELSE 'U' END AS op
      FROM events
    ),
    served AS (
      SELECT user_id, event_id, ts, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) rn
        FROM log
      ) WHERE rn = 1 AND op = 'U'
    ),
    agg AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_value
      FROM served GROUP BY day
    ),
    g AS (SELECT MAX(CAST(ts AS DATE)) AS gday FROM served)
    SELECT strftime(day, '{DATE_FMT_DUCK}') AS day, n_users, sum_value,
           CAST(date_diff('day', day, g.gday) AS BIGINT) AS lag_days
    FROM agg CROSS JOIN g
    ORDER BY day
    """,
    doc="Multi-hop INCREMENTAL refresh capstone — the 'does IVM "
        "compose' proof no single query gives: (1) the latest-wins "
        "snapshot view refreshes by merging the arriving batch into "
        "stored pre-batch state (cdc_apply_events' hop); (2) the "
        "per-day (count, exact-decimal sum) aggregate view refreshes "
        "from the FIRST hop's change set as signed RETRACTION partials "
        "(old row -1/-value, new row +1/+value, unchanged keys never "
        "leave the join) — delta propagation through a view DAG, "
        "batch-sized work per hop; (3) the freshness audit runs over "
        "the refreshed snapshot (1-row global day scalar, broadcast "
        "back). The ORACLE recomputes everything from the full log — "
        "green means merged == full-recompute at the composition's "
        "end, and tests/test_lakehouse.py pins each hop separately "
        "plus that real retractions flowed. Plan: every shuffle keyed "
        "on user_id or day; the delta legs are O(touched keys); "
        "count/sum chosen because they are invertible (max is NOT — "
        "freshness therefore reads the snapshot, not partials: the "
        "honest boundary of delta maintenance).",
    tags=("lakehouse", "cdc", "incremental", "ivm", "pipeline"),
)
def pipeline_incremental_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _refresh_parts(spark, sf_dir)["out"]


# --------------------------------------------------------------------------
# Time-travel ⊕ checksum bridge: snapshot-export reconciliation for the
# versioned (manifest-committed) table.
# --------------------------------------------------------------------------

#: Number of commits the bridge builds: v0 = init, then two merges.
VT_VERSIONS = 3


def _vt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the events table into the versioned machinery's record
    shape: entity key (repo_dir=event_type, file_id=user_id), and a
    FIXED-WIDTH extract_ts whose string order is the (second, event_id)
    order — unique per key because event_id is unique, so the
    latest-wins window is deterministic (the tie-ambiguity gotcha)."""
    ts_str = F.concat(
        F.date_format("ts", TS_FMT_SPARK),
        F.lit("#"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return load(spark, sf_dir, "events").select(
        F.col("event_type").alias("repo_dir"),
        F.col("user_id").cast("string").alias("file_id"),
        ts_str.alias("extract_ts"),
        "event_id",
    )


def _memo_table(spark: SparkSession, sf_dir: str, flavor: str, fill):
    """The versioned table ``fill(table)`` commits, built once per
    (session, sf_dir) as the ``lakehouse_<flavor>table`` memo. Each
    build gets a FRESH unique /tmp directory (never an rmtree'd prior
    one): after the memo bound drops an entry, or under xdist workers
    sharing a session, a previously returned LAZY frame may still read
    the old build's files. An explicit ``evict`` removes the directory
    at once; every directory, a dropped entry's included, is removed
    at interpreter exit, so a process without teardown leaves none."""
    import atexit
    import hashlib
    import pathlib
    import shutil
    import tempfile

    def build() -> pathlib.Path:
        app = spark.sparkContext.applicationId
        tag = hashlib.md5(f"{flavor}|{app}|{sf_dir}".encode()).hexdigest()
        table = pathlib.Path(
            tempfile.mkdtemp(prefix=f"etl_spark_{flavor}table_{tag[:12]}_")
        )
        atexit.register(shutil.rmtree, table, ignore_errors=True)
        fill(table)
        return table

    return session_memo(
        f"lakehouse_{flavor}table", spark, sf_dir, build,
        release=shutil.rmtree,
    )


def _built_vtable(spark: SparkSession, sf_dir: str):
    """Build (once per session+sf_dir) a real manifest-committed
    versioned table under /tmp from three deterministic event batches
    (event_id % 3): v0 = init, v1/v2 = copy-on-write merges. Returns
    its path. Bounded materialization in the registry's sanctioned
    sense: the artifact IS the subject of the query (time travel needs
    committed files), and each commit writes only touched buckets."""
    from etl_spark.etl.versioned import (
        init_versioned_table,
        merge_versioned_table,
    )

    def fill(table) -> None:
        recs = _vt_records(spark, sf_dir)
        init_versioned_table(recs.filter(F.col("event_id") % 3 == 0), table)
        for k in range(1, VT_VERSIONS):
            merge_versioned_table(
                spark, table, recs.filter(F.col("event_id") % 3 == k)
            )

    return _memo_table(spark, sf_dir, "v", fill)


# The canonical row rendering the versioned-table checksums hash, as
# DuckDB spells it; ``_version_checksums`` renders the same string.
_CK_ROW_SQL = (
    "repo_dir || '|' || file_id || '|' || extract_ts"
    " || '|' || CAST(event_id AS VARCHAR)"
)


def _version_checksums(spark: SparkSession, table, n_versions: int) -> DataFrame:
    """dq_table_checksum's (COUNT, BIT_XOR, modular-sum) triple over
    the canonical row rendering, for each of versions ``0 ..
    n_versions - 1`` of the versioned ``table``."""
    from functools import reduce

    from etl_spark.etl.versioned import read_versioned_table
    from etl_spark.plans.quality import _CK_MOD

    h = md5_int(
        F.concat_ws(
            "|",
            F.col("repo_dir"),
            F.col("file_id"),
            F.col("extract_ts"),
            F.col("event_id").cast("string"),
        ),
        15,
    )
    parts = [
        read_versioned_table(spark, table, version=v)
        .select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.sum(F.col("h") % _CK_MOD).alias("modsum_checksum"),
        )
        .select(
            F.lit(v).cast("int").alias("version"),
            "n_rows", "xor_checksum", "modsum_checksum",
        )
        for v in range(n_versions)
    ]
    return reduce(DataFrame.unionByName, parts).orderBy("version")


def _vt_checksum_oracle_sql() -> str:
    from etl_spark.plans.quality import _CK_MOD

    ks = ", ".join(f"({k})" for k in range(VT_VERSIONS))
    return f"""
    WITH base AS (
      SELECT event_type AS repo_dir,
             CAST(user_id AS VARCHAR) AS file_id,
             strftime(ts, '{TS_FMT_DUCK}') || '#'
               || lpad(CAST(event_id AS VARCHAR), 10, '0') AS extract_ts,
             event_id,
             event_id % 3 AS b
      FROM events
    ),
    v(k) AS (VALUES {ks}),
    snap AS (
      SELECT k, repo_dir, file_id, extract_ts, event_id FROM (
        SELECT v.k, b.*,
               ROW_NUMBER() OVER (
                 PARTITION BY v.k, b.repo_dir, b.file_id
                 ORDER BY b.extract_ts DESC) AS rn
        FROM v CROSS JOIN base b WHERE b.b <= v.k
      ) WHERE rn = 1
    ),
    hashed AS (
      SELECT k, {md5_int_sql(_CK_ROW_SQL, 15)} AS h FROM snap
    )
    SELECT CAST(k AS INTEGER) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
           CAST(SUM(h % {_CK_MOD}) AS BIGINT) AS modsum_checksum
    FROM hashed
    GROUP BY k
    ORDER BY version
    """


@register(
    "lakehouse_time_travel_checksums",
    oracle=_vt_checksum_oracle_sql(),
    doc="Snapshot-export bridge: time travel composed with the "
        "order-independent table checksum. The builder commits a REAL "
        "manifest-based versioned table (etl/versioned.py — immutable "
        "data files, per-commit manifests, copy-on-write merges) from "
        "three deterministic event batches, then reads the table AS "
        "OF EACH retained manifest and emits dq_table_checksum's "
        "(COUNT, BIT_XOR, modular-sum) triple per version over the "
        "canonical row rendering. The oracle never touches the "
        "filesystem: it derives each version's LOGICAL content "
        "relationally (latest-wins over the batches <= k — the "
        "versioned table's documented contract) and checksums that — "
        "so a green run proves the bytes time travel returns at every "
        "version hash-identically to the relationally-defined "
        "snapshot at that horizon, which is exactly the receipt a "
        "migration team wants from an exported snapshot. All three "
        "checksum aggregates are commutative: no sort, no row "
        "movement beyond one map-combinable groupBy per version.",
    tags=("lakehouse", "time-travel", "checksum", "quality"),
)
def lakehouse_time_travel_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _version_checksums(spark, _built_vtable(spark, sf_dir), VT_VERSIONS)


# --------------------------------------------------------------------------
# Merge-on-read equality deletes: DELETE → resurrect-by-merge →
# compaction, every commit's served view hash-checked.
# --------------------------------------------------------------------------

def _built_delete_lifecycle(
    spark: SparkSession, sf_dir: str, flavor: str, bound: str
):
    """The five-commit merge-on-read lifecycle under the delete
    ``bound`` (etl/versioned.py): v0 init (batch0), v1 merge (batch1),
    v2 equality-DELETE of every served 'error'-typed row (O(matched
    keys): pointers verbatim + one delete file), v3 merge (batch2 —
    which deleted keys resurrect is what ``bound`` decides), v4
    compaction (delete files folded away, content-identical)."""
    from etl_spark.etl.versioned import (
        compact_versioned_deletes,
        delete_from_versioned_table,
        init_versioned_table,
        merge_versioned_table,
    )

    def fill(table) -> None:
        recs = _vt_records(spark, sf_dir)
        init_versioned_table(recs.filter(F.col("event_id") % 3 == 0), table)
        merge_versioned_table(
            spark, table, recs.filter(F.col("event_id") % 3 == 1)
        )
        delete_from_versioned_table(
            spark, table, "repo_dir = 'error'", bound=bound
        )
        merge_versioned_table(
            spark, table, recs.filter(F.col("event_id") % 3 == 2)
        )
        compact_versioned_deletes(spark, table)

    return _memo_table(spark, sf_dir, flavor, fill)


def _built_dv_table(spark: SparkSession, sf_dir: str):
    """The lifecycle under the extract_ts bound: at v3, keys whose
    batch2 row is NEWER than their delete bound resurrect (the Iceberg
    sequence rule); the rest stay deleted."""
    return _built_delete_lifecycle(spark, sf_dir, "dv", "extract_ts")


def _dv_checksum_oracle_sql() -> str:
    from etl_spark.plans.quality import _CK_MOD

    return f"""
    WITH base AS (
      SELECT event_type AS repo_dir,
             CAST(user_id AS VARCHAR) AS file_id,
             strftime(ts, '{TS_FMT_DUCK}') || '#'
               || lpad(CAST(event_id AS VARCHAR), 10, '0') AS extract_ts,
             event_id,
             event_id % 3 AS b
      FROM events
    ),
    v(k) AS (VALUES (0), (1), (2)),
    snap AS MATERIALIZED (
      SELECT k, repo_dir, file_id, extract_ts, event_id FROM (
        SELECT v.k, b.*,
               ROW_NUMBER() OVER (
                 PARTITION BY v.k, b.repo_dir, b.file_id
                 ORDER BY b.extract_ts DESC) AS rn
        FROM v CROSS JOIN base b WHERE b.b <= v.k
      ) WHERE rn = 1
    ),
    del AS MATERIALIZED (
      -- the delete commit's equality-delete file: every key SERVED at
      -- v1 with repo_dir = 'error', bounded by that row's extract_ts
      SELECT repo_dir, file_id, extract_ts AS del_ts
      FROM snap WHERE k = 1 AND repo_dir = 'error'
    ),
    b2top AS (
      SELECT repo_dir, file_id, extract_ts, event_id FROM (
        SELECT base.*,
               ROW_NUMBER() OVER (PARTITION BY repo_dir, file_id
                                  ORDER BY extract_ts DESC) AS rn
        FROM base WHERE b = 2
      ) WHERE rn = 1
    ),
    v3 AS MATERIALIZED (
      -- undeleted keys: plain latest over batches <= 2; deleted keys:
      -- their newest batch-2 row, kept only if NEWER than the delete
      -- bound (the resurrection rule)
      SELECT s.repo_dir, s.file_id, s.extract_ts, s.event_id
      FROM snap s LEFT JOIN del d USING (repo_dir, file_id)
      WHERE s.k = 2 AND d.del_ts IS NULL
      UNION ALL
      SELECT t.repo_dir, t.file_id, t.extract_ts, t.event_id
      FROM b2top t JOIN del d USING (repo_dir, file_id)
      WHERE t.extract_ts > d.del_ts
    ),
    versions AS (
      SELECT 0 AS version, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 0
      UNION ALL
      SELECT 1, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 1
      UNION ALL
      SELECT 2, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 1 AND repo_dir <> 'error'
      UNION ALL
      SELECT 3, repo_dir, file_id, extract_ts, event_id FROM v3
      UNION ALL
      SELECT 4, repo_dir, file_id, extract_ts, event_id FROM v3
    ),
    hashed AS (
      SELECT version, {md5_int_sql(_CK_ROW_SQL, 15)} AS h FROM versions
    )
    SELECT CAST(version AS INTEGER) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
           CAST(SUM(h % {_CK_MOD}) AS BIGINT) AS modsum_checksum
    FROM hashed
    GROUP BY version
    ORDER BY version
    """


@register(
    "lakehouse_equality_delete_checksums",
    oracle=_dv_checksum_oracle_sql(),
    doc="Merge-on-read EQUALITY DELETES (the Iceberg v2 shape) with "
        "the full lifecycle hash-checked: the builder commits init → "
        "merge → DELETE of every served 'error'-typed row (an "
        "O(matched-keys) commit — data pointers verbatim plus one "
        "delete file carrying each key and its served extract_ts as "
        "the sequence bound) → a second merge (keys whose new row is "
        "NEWER than their delete bound RESURRECT; the rest stay "
        "deleted — the sequence-number rule) → compaction (delete "
        "files folded away by rewriting only the touched buckets). "
        "Emits the order-independent checksum triple of the SERVED "
        "view at all five commits; the oracle replays every version's "
        "logical content relationally — delete, resurrection bound, "
        "and compaction-identity included — so a green run proves the "
        "merge-on-read read path returns exactly the relationally-"
        "defined state at every horizon. Readers pay one anti-join "
        "per delete file set (plain join, never broadcast — delete "
        "sets are data-sized); compaction removes that cost, "
        "content-identically (v4 == v3 is part of the hash check).",
    tags=("lakehouse", "time-travel", "delete", "merge-on-read",
          "checksum"),
)
def lakehouse_equality_delete_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _version_checksums(spark, _built_dv_table(spark, sf_dir), 5)


# --------------------------------------------------------------------------
# Commit-sequence equality deletes: the SAME lifecycle under Iceberg's
# strictly-before-commit rule (bound="commit") — any later commit's
# re-insert resurrects, extract_ts order notwithstanding.
# --------------------------------------------------------------------------

def _built_seq_table(spark: SparkSession, sf_dir: str):
    """Like ``_built_dv_table`` but the DELETE uses ``bound="commit"``:
    at v3 EVERY re-delivered deleted key resurrects, even with an
    extract_ts older than its deleted row's; keys batch2 does not
    re-deliver stay deleted."""
    return _built_delete_lifecycle(spark, sf_dir, "seq", "commit")


def _seq_checksum_oracle_sql() -> str:
    from etl_spark.plans.quality import _CK_MOD

    return f"""
    WITH base AS (
      SELECT event_type AS repo_dir,
             CAST(user_id AS VARCHAR) AS file_id,
             strftime(ts, '{TS_FMT_DUCK}') || '#'
               || lpad(CAST(event_id AS VARCHAR), 10, '0') AS extract_ts,
             event_id,
             event_id % 3 AS b
      FROM events
    ),
    v(k) AS (VALUES (0), (1), (2)),
    snap AS MATERIALIZED (
      SELECT k, repo_dir, file_id, extract_ts, event_id FROM (
        SELECT v.k, b.*,
               ROW_NUMBER() OVER (
                 PARTITION BY v.k, b.repo_dir, b.file_id
                 ORDER BY b.extract_ts DESC) AS rn
        FROM v CROSS JOIN base b WHERE b.b <= v.k
      ) WHERE rn = 1
    ),
    del AS MATERIALIZED (
      -- the commit-bound delete file: every key SERVED at v1 with
      -- repo_dir = 'error'; the bound is the COMMIT number, so the
      -- per-key extract_ts plays no role in resurrection
      SELECT repo_dir, file_id
      FROM snap WHERE k = 1 AND repo_dir = 'error'
    ),
    b2top AS (
      SELECT repo_dir, file_id, extract_ts, event_id FROM (
        SELECT base.*,
               ROW_NUMBER() OVER (PARTITION BY repo_dir, file_id
                                  ORDER BY extract_ts DESC) AS rn
        FROM base WHERE b = 2
      ) WHERE rn = 1
    ),
    v3 AS MATERIALIZED (
      -- undeleted keys: plain latest over batches <= 2; deleted keys:
      -- their newest batch-2 row UNCONDITIONALLY (Iceberg's
      -- strictly-before-commit rule — batch 2 lands in a commit after
      -- the delete, so membership alone resurrects)
      SELECT s.repo_dir, s.file_id, s.extract_ts, s.event_id
      FROM snap s LEFT JOIN del d USING (repo_dir, file_id)
      WHERE s.k = 2 AND d.repo_dir IS NULL
      UNION ALL
      SELECT t.repo_dir, t.file_id, t.extract_ts, t.event_id
      FROM b2top t JOIN del d USING (repo_dir, file_id)
    ),
    versions AS (
      SELECT 0 AS version, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 0
      UNION ALL
      SELECT 1, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 1
      UNION ALL
      SELECT 2, repo_dir, file_id, extract_ts, event_id
      FROM snap WHERE k = 1 AND repo_dir <> 'error'
      UNION ALL
      SELECT 3, repo_dir, file_id, extract_ts, event_id FROM v3
      UNION ALL
      SELECT 4, repo_dir, file_id, extract_ts, event_id FROM v3
    ),
    hashed AS (
      SELECT version, {md5_int_sql(_CK_ROW_SQL, 15)} AS h FROM versions
    )
    SELECT CAST(version AS INTEGER) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
           CAST(SUM(h % {_CK_MOD}) AS BIGINT) AS modsum_checksum
    FROM hashed
    GROUP BY version
    ORDER BY version
    """


@register(
    "lakehouse_commit_seq_delete_checksums",
    oracle=_seq_checksum_oracle_sql(),
    doc="COMMIT-SEQUENCE equality deletes — the same five-commit "
        "merge-on-read lifecycle as lakehouse_equality_delete_"
        "checksums but under Iceberg's ACTUAL sequence-number rule "
        "(delete_from_versioned_table(..., bound='commit'), "
        "etl/versioned.py): the delete file carries the delete "
        "COMMIT's number, a row's own commit is recovered from its "
        "immutable data path (data/v<k>/ — input_file_name at the "
        "scan, no stored column), and the delete applies only to "
        "rows written strictly BEFORE it. Distinguishing receipt vs "
        "the extract_ts flavor: at v3 EVERY deleted key batch 2 "
        "re-delivers resurrects — including those whose new row is "
        "OLDER than the deleted row's extract_ts, which the default "
        "flavor keeps deleted (the non-vacuity of that difference is "
        "pytest-fenced on this corpus). The oracle replays all five "
        "versions relationally with membership-only resurrection; "
        "v4 == v3 (compaction identity) rides the same hash check. "
        "Plan shape: the seq branch adds one in-row regexp on the "
        "scan's file provenance — the delete apply stays ONE equi "
        "left join, never broadcast.",
    tags=("lakehouse", "time-travel", "delete", "merge-on-read",
          "checksum"),
)
def lakehouse_commit_seq_delete_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _version_checksums(spark, _built_seq_table(spark, sf_dir), 5)
