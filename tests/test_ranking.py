"""Property tests for operators/ranking.py: the two-phase prefix rank
must agree EXACTLY with the single-partition window forms it replaces
(row_number, running sum, NTILE) on adversarial inputs — heavy ties,
negative values, tiny inputs, empty input — and across bucket counts
(1 bucket = degenerate, 7 = uneven, 64 = more buckets than rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from etl_spark.operators.ranking import first_per_key, global_rank, ntile_from_rank


def _data(spark, n=257):
    # Deterministic pseudo-random values with many exact ties
    # (mod 17) and negatives; id is the unique tiebreak.
    rows = [
        Row(id=i, v=((i * 7919) % 17) - 8, w=(i * 31) % 100)
        for i in range(1, n + 1)
    ]
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("n_buckets", [1, 7, 64])
def test_rank_and_cumsum_match_global_window(spark, n_buckets):
    df = _data(spark)
    got, totals = global_rank(
        df, [("v", "id", "rn")], sums=("w",), n_buckets=n_buckets
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.sum("w")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_w"),
    )
    got_rows = {
        r["id"]: (r["rn"], r["cum_w"])
        for r in got.select("id", "rn", "cum_w").collect()
    }
    want_rows = {r["id"]: (r["rn"], r["cum_w"]) for r in want.collect()}
    assert got_rows == want_rows
    assert totals["n"] == 257
    assert totals["w"] == sum(((i * 31) % 100) for i in range(1, 258))


@pytest.mark.parametrize("n,k", [(257, 5), (257, 10), (9, 10), (10, 10), (40, 7)])
def test_ntile_from_rank_matches_builtin(spark, n, k):
    df = _data(spark, n)
    got, totals = global_rank(df, [("v", "id", "rn")], n_buckets=7)
    mine = got.select(
        "id", ntile_from_rank(F.col("rn"), totals["n"], k).alias("t")
    )
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    builtin = df.select("id", F.ntile(k).over(w).alias("t"))
    assert {r["id"]: r["t"] for r in mine.collect()} == {
        r["id"]: r["t"] for r in builtin.collect()
    }


def test_empty_input(spark):
    df = _data(spark).filter(F.lit(False))
    got, totals = global_rank(df, [("v", "id", "rn")], sums=("w",))
    assert got.count() == 0
    assert totals == {"n": 0, "w": None}


def test_single_row(spark):
    df = _data(spark, 1)
    got, totals = global_rank(df, [("v", "id", "rn")], sums=("w",))
    row = got.collect()[0]
    assert (row["rn"], totals["n"]) == (1, 1)
    assert row["cum_w"] == totals["w"]


def test_helper_plan_has_no_unpartitioned_window(spark):
    from tests.test_no_cartesian_anywhere import (
        _WINDOW_NODE_CLASSES,
        _iter_physical_nodes,
    )

    df = _data(spark)
    got, _ = global_rank(df, [("v", "id", "rn")], sums=("w",))
    plan = got._jdf.queryExecution().executedPlan()
    offenders = [
        n.getClass().getSimpleName()
        for n in _iter_physical_nodes(plan)
        if n.getClass().getSimpleName() in _WINDOW_NODE_CLASSES
        and n.partitionSpec().isEmpty()
    ]
    assert offenders == []


def test_unreferenced_window_is_pruned(spark):
    """Re-ranking an already-ranked frame by another key relies on Catalyst dropping an earlier pass's Window node
    from the later pass's probe/offset jobs — those jobs reference
    only their own key column, so they must not pay for (or recompute)
    the previous ranks. Pin that column-pruning behavior here."""
    df = _data(spark)
    ranked, _ = global_rank(df, [("v", "id", "rn_v")])
    probe = ranked.select(
        F.percentile_approx("w", [0.5], 100).alias("bs")
    )
    plan = probe._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan
    offsets = ranked.groupBy((F.col("w") > 0).alias("__b")).count()
    plan2 = offsets._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan2


@pytest.mark.parametrize("n_buckets", [1, 7, 64])
def test_multi_matches_chained_single_key(spark, n_buckets):
    """The fused multi-key form (one probe action + one offsets action
    for all keys) must be bit-identical to chaining single-key calls —
    rank exactness is bucketing-independent, so any divergence is a
    bug in the fusion, not a tolerance question."""
    df = _data(spark)
    fused, totals = global_rank(
        df,
        [("v", "id", "rn_v"), ("w", "id", "rn_w")],
        n_buckets=n_buckets,
    )
    a, t1 = global_rank(df, [("v", "id", "rn_v")])
    chained, _ = global_rank(a, [("w", "id", "rn_w")])
    got = {
        r["id"]: (r["rn_v"], r["rn_w"])
        for r in fused.select("id", "rn_v", "rn_w").collect()
    }
    want = {
        r["id"]: (r["rn_v"], r["rn_w"])
        for r in chained.select("id", "rn_v", "rn_w").collect()
    }
    assert got == want
    assert totals["n"] == t1["n"] == 257


def test_multi_fuses_probe_and_offsets_into_fewer_jobs(spark):
    """The point of fusing keys in one global_rank call: one probe
    action + one offsets action TOTAL, not one of each per key. AQE may split an action
    into sub-jobs, so assert the fused call's job count is (a) no more
    than a SINGLE-key call's (the per-key marginal cost is zero jobs)
    and (b) strictly below the two chained single-key calls it
    replaces."""
    df = _data(spark).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()

    def jobs_of(fn):
        before = set(tracker.getJobIdsForGroup(None) or [])
        fn()
        after = set(tracker.getJobIdsForGroup(None) or [])
        return len(after - before)

    fused = jobs_of(
        lambda: global_rank(
            df,
            [("v", "id", "rn_v"), ("w", "id", "rn_w")],
            n_buckets=7,
        )
    )
    single = jobs_of(
        lambda: global_rank(df, [("v", "id", "rn_v")], n_buckets=7)
    )

    def chained():
        a, _ = global_rank(df, [("v", "id", "rn_v")], n_buckets=7)
        global_rank(a, [("w", "id", "rn_w")], n_buckets=7)

    assert fused <= single
    assert fused < jobs_of(chained)


def test_first_per_key_keeps_first_row_of_each_key(spark):
    """One row per key, the one ``order`` puts first (the tiebreak
    decides equal ``v``), the input's columns unchanged, and the
    window partitioned by the key — an unkeyed call is refused."""
    df = _data(spark)
    got = first_per_key(df, ["w"], F.col("v").desc(), F.col("id").asc())
    assert got.columns == df.columns
    want = {}
    for r in sorted(df.collect(), key=lambda r: (-r["v"], r["id"])):
        want.setdefault(r["w"], tuple(r))
    assert sorted(tuple(r) for r in got.collect()) == sorted(want.values())
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(w#" in plan
    with pytest.raises(ValueError, match="at least one key"):
        first_per_key(df, [], F.col("v").desc())
