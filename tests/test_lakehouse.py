"""Semantic fences for the lakehouse maintenance queries (plans/lakehouse.py).

The oracle parity drives prove incremental-apply == full-replay; these
tests pin the SEMANTICS that parity alone can't distinguish — delete
visibility, tombstone retention, resurrection, and the SCD2 interval
invariants (tiling, single current row, version contiguity).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_spark.plans.lakehouse import (
    CDC_BATCH_MOD,
    CDC_DELETE_TYPE,
    cdc_apply_events,
    cdc_apply_log,
    scd2_priority_history,
)
from etl_spark.io import load
from tests.conftest import SF_DIR


def _cdc_replay(duck):
    """Full changelog replay in DuckDB: (user_id, final op) per key."""
    return dict(
        duck.execute(
            f"""
            SELECT user_id, op FROM (
              SELECT user_id,
                     CASE WHEN event_type = '{CDC_DELETE_TYPE}'
                          THEN 'D' ELSE 'U' END AS op,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) rn
              FROM events
            ) WHERE rn = 1
            """
        ).fetchall()
    )


def test_cdc_deleted_keys_absent_live_keys_present(spark, duck):
    final = _cdc_replay(duck)
    served = {
        r["user_id"] for r in cdc_apply_events(spark, SF_DIR).collect()
    }
    deleted = {u for u, op in final.items() if op == "D"}
    live = {u for u, op in final.items() if op == "U"}
    assert deleted, "fixture must exercise the delete path"
    assert served == live
    assert not (served & deleted)


def test_cdc_tombstone_retention_is_load_bearing(spark, duck):
    """A snapshot that drops tombstones BEFORE the merge serves stale
    rows. The load-bearing shape: a key whose latest HISTORICAL op is a
    tombstone NEWER than every batch row it has, while its latest batch
    row is an upsert — retained-tombstone apply correctly hides the
    key; an early-drop snapshot would let the stale batch upsert win
    and serve it. This fences the design choice, and checks the
    fixture exercises it.
    """
    rows = duck.execute(
        f"""
        WITH log AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN event_type = '{CDC_DELETE_TYPE}'
                      THEN 'D' ELSE 'U' END AS op,
                 event_id % {CDC_BATCH_MOD} = 0 AS arriving
          FROM events
        ),
        hist_latest AS (
          SELECT user_id, op, ts, event_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) rn
            FROM log WHERE NOT arriving
          ) WHERE rn = 1
        ),
        batch_latest AS (
          SELECT user_id, op, ts, event_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) rn
            FROM log WHERE arriving
          ) WHERE rn = 1
        )
        SELECT h.user_id
        FROM hist_latest h JOIN batch_latest b USING (user_id)
        WHERE h.op = 'D' AND b.op = 'U'
          AND (h.ts > b.ts OR (h.ts = b.ts AND h.event_id > b.event_id))
        """
    ).fetchall()
    tombstone_only = {r[0] for r in rows}
    assert tombstone_only, (
        "fixture must contain a key hidden ONLY by a retained "
        "historical tombstone outranking a stale batch upsert"
    )
    served = {
        r["user_id"] for r in cdc_apply_events(spark, SF_DIR).collect()
    }
    assert not (served & tombstone_only)


def test_cdc_batch_resurrects_deleted_key(spark):
    """A key tombstoned in history but upserted by a NEWER batch row
    must be served (resurrection), and a batch tombstone newer than a
    live historical row must hide the key (batch delete) — driven on a
    synthetic changelog so both paths are exercised regardless of
    fixture luck. event_id % CDC_BATCH_MOD == 0 marks batch rows.
    """
    import datetime as dt

    def t(h):
        return dt.datetime(2024, 1, 1, h)

    assert CDC_BATCH_MOD == 10  # event_ids below assume the slice rule
    rows = [
        # user 1: historical U then D, batch U NEWER -> resurrected
        (1, 101, t(1), 1.0, "U"),
        (1, 102, t(2), 1.0, "D"),
        (1, 110, t(3), 2.0, "U"),
        # user 2: historical U, batch D newer -> deleted by the batch
        (2, 201, t(1), 1.0, "U"),
        (2, 210, t(2), 1.0, "D"),
        # user 3: batch-only insert -> served
        (3, 310, t(1), 3.0, "U"),
        # user 4: historical tombstone only -> hidden
        (4, 401, t(1), 1.0, "D"),
    ]
    log = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, "
              "value double, op string"
    )
    merged = cdc_apply_log(log)
    served = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in merged.filter(F.col("op") == "U").collect()
    }
    assert served == {1: (110, 2.0), 3: (310, 3.0)}
    # tombstones are retained in merged state (compaction is separate)
    tombs = {
        r["user_id"] for r in merged.filter(F.col("op") == "D").collect()
    }
    assert tombs == {2, 4}


def test_scd2_interval_invariants(spark):
    hist = scd2_priority_history(spark, SF_DIR).collect()
    by_cust: dict[int, list] = {}
    for r in hist:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    assert by_cust
    multi = 0
    for cust, rows in by_cust.items():
        rows.sort(key=lambda r: r["version"])
        # versions contiguous from 1
        assert [r["version"] for r in rows] == list(range(1, len(rows) + 1))
        # exactly one current interval, and it is the last
        currents = [r for r in rows if r["is_current"]]
        assert len(currents) == 1 and currents[0] is rows[-1]
        assert rows[-1]["valid_to"] is None
        for a, b in zip(rows, rows[1:]):
            # intervals tile the timeline: valid_to == next valid_from
            assert a["valid_to"] == b["valid_from"]
            # a run boundary means the attribute actually changed
            assert a["o_orderpriority"] != b["o_orderpriority"]
            # half-open intervals never invert
            assert a["valid_from"] <= a["valid_to"]
        if len(rows) > 1:
            multi += 1
    assert multi, "fixture must contain customers with attribute changes"


def test_scd2_order_counts_partition_the_facts(spark, duck):
    """Every order lands in exactly one interval: per-customer
    n_orders sums to the customer's order count."""
    got = {
        (r["o_custkey"],): r["s"]
        for r in scd2_priority_history(spark, SF_DIR)
        .groupBy("o_custkey")
        .agg(F.sum("n_orders").alias("s"))
        .collect()
        for r in [r]
    }
    want = dict(
        duck.execute(
            "SELECT o_custkey, COUNT(*) FROM orders GROUP BY 1"
        ).fetchall()
    )
    assert {k[0]: v for k, v in got.items()} == want


def test_asof_lookup_partitions_every_lineitem_exactly_once(spark, duck):
    """The interval set tiles each customer's timeline, so the as-of
    join must preserve fact cardinality: total n_lines == |lineitem|
    (no line lost before its first interval, none double-matched on a
    same-date regime flip)."""
    from etl_spark.plans.lakehouse import scd2_asof_lookup

    got = scd2_asof_lookup(spark, SF_DIR).collect()
    total = sum(r["n_lines"] for r in got)
    want = duck.execute("SELECT COUNT(*) FROM lineitem").fetchone()[0]
    assert total == want
    # the reason the query exists: lines shipping under a LATER regime
    drifted = sum(
        r["n_lines"] for r in got
        if r["prio_at_order"] != r["prio_at_ship"]
    )
    assert drifted > 0


def test_backlog_sweep_is_conservative(spark, duck):
    """Sweep-line invariants: the backlog never goes negative, and it
    returns to ZERO on the last day — every interval that opens also
    closes (the clamp guarantees this even for the ~20% of orders
    whose lines all shipped early)."""
    from etl_spark.plans.analytics import orders_open_backlog_daily

    rows = sorted(
        orders_open_backlog_daily(spark, SF_DIR).collect(),
        key=lambda r: r["day"],
    )
    assert all(r["open_backlog"] >= 0 for r in rows)
    assert rows[-1]["open_backlog"] == 0
    # orders with no lineitems have no interval (inner join): the
    # sweep covers exactly the orders with line activity
    n_spanned = duck.execute(
        "SELECT COUNT(DISTINCT o_orderkey) FROM orders "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)"
    ).fetchone()[0]
    assert sum(r["n_opened"] for r in rows) == n_spanned
    assert sum(r["n_closed"] for r in rows) == n_spanned


def test_snapshot_diff_round_trip(spark, duck):
    """apply(old, diff(old, new)) == new — the contract that makes a
    snapshot-derived CDC feed trustworthy."""
    from etl_spark.plans.lakehouse import cdc_snapshot_diff

    diff = cdc_snapshot_diff(spark, SF_DIR).collect()
    old = {
        u: (e, v)
        for u, e, v in duck.execute(
            f"""
            SELECT user_id, event_id, value FROM (
              SELECT *, CASE WHEN event_type = '{CDC_DELETE_TYPE}'
                             THEN 'D' ELSE 'U' END AS op,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) rn
              FROM events WHERE event_id % {CDC_BATCH_MOD} <> 0
            ) WHERE rn = 1 AND op = 'U'
            """
        ).fetchall()
    }
    new = {
        u: (e, v)
        for u, e, v in duck.execute(
            f"""
            SELECT user_id, event_id, value FROM (
              SELECT *, CASE WHEN event_type = '{CDC_DELETE_TYPE}'
                             THEN 'D' ELSE 'U' END AS op,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) rn
              FROM events
            ) WHERE rn = 1 AND op = 'U'
            """
        ).fetchall()
    }
    applied = dict(old)
    ops = {"I": 0, "U": 0, "D": 0}
    for r in diff:
        ops[r["op"]] += 1
        if r["op"] == "D":
            del applied[r["user_id"]]
        else:
            applied[r["user_id"]] = (r["new_event_id"], r["new_value"])
    assert applied == new
    # the diff is minimal: unchanged keys never appear
    changed = {r["user_id"] for r in diff}
    for u in set(old) & set(new):
        if old[u] == new[u]:
            assert u not in changed
    # fixture exercises at least two op kinds
    assert sum(1 for k, v in ops.items() if v > 0) >= 2


def test_incremental_refresh_every_hop_matches_recompute(spark):
    """The capstone's per-hop receipts: hop 1 (merged snapshot), hop 2
    (retraction-maintained aggregate) each equal their full recompute,
    and real retractions actually flowed (non-vacuous)."""
    from pyspark.sql import functions as F

    from etl_spark.plans.lakehouse import CDC_DELETE_TYPE, _refresh_parts

    parts = _refresh_parts(spark, SF_DIR)

    # hop 1: merged snapshot == latest-wins over the FULL log
    ev = load(spark, SF_DIR, "events")
    full = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(
            (F.col("rn") == 1) & (F.col("event_type") != CDC_DELETE_TYPE)
        )
        .select("user_id", "event_id")
    )
    got1 = {(r.user_id, r.event_id) for r in parts["new_v"].collect()}
    want1 = {(r.user_id, r.event_id) for r in full.collect()}
    assert got1 == want1

    # hop 2: retraction-maintained view == direct aggregate over hop 1
    direct = (
        parts["new_v"]
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    got2 = {
        (str(r.day), r.n_users, r.sum_value) for r in parts["v2"].collect()
    }
    want2 = {
        (str(r.day), r.n_users, r.sum_value) for r in direct.collect()
    }
    assert got2 == want2

    # non-vacuous: the batch must have caused real retractions
    assert parts["minus"].count() > 0
    assert parts["plus"].count() > 0


def test_vtable_rebuild_never_deletes_a_live_readers_files(spark):
    """ADVICE r9 (lakehouse.py _built_vtable): the builder used to
    rmtree the deterministic /tmp dir before rebuilding, so a rebuild
    after FIFO eviction could delete files a previously returned LAZY
    frame still references, failing its jobs mid-read. Each build now
    gets a fresh unique directory: evict, rebuild, then collect the
    OLD frame — it must still read its own files."""
    import shutil

    from etl_spark.etl.versioned import read_versioned_table
    from etl_spark.operators.caching import _REGISTRY
    from etl_spark.plans.lakehouse import _built_vtable
    from tests.conftest import SF_DIR

    t1 = _built_vtable(spark, SF_DIR)
    old_frame = read_versioned_table(spark, t1)  # lazy, files on disk
    n_before = old_frame.count()

    # simulate the memo bound dropping the entry (which never runs its
    # release) / xdist churn
    _REGISTRY["lakehouse_vtable"].clear()
    try:
        t2 = _built_vtable(spark, SF_DIR)
        assert t2 != t1, "rebuild must land in a fresh directory"

        # the old lazy frame still reads — its files were not rmtree'd
        assert old_frame.count() == n_before
        assert read_versioned_table(spark, t2).count() == n_before
    finally:
        # a dropped entry is never released by design: remove its
        # directory here so the test leaves nothing in the temp dir
        shutil.rmtree(t1)
