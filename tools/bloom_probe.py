"""Bloom-prefilter receipt: measure, at a given SF, how many fact rows
the 2-hash bloom pre-filter admits versus the full fact table and the
true match set, and the wall-time effect on the shuffle-join form.

The claim under test (plans/runtime_filters.py): with a selective dim,
the pre-filter drops the overwhelming majority of fact rows BEFORE the
join exchange while admitting every true match, at the cost of two
broadcast semi joins against position sets bounded by BLOOM_M — so at
100 TB the join shuffle carries might-match rows only. The timed runs
force autoBroadcastJoinThreshold=-1 for the FINAL join: the regime
where the bloom matters is exactly the one where the dim is too big to
broadcast (locally we simulate it by disabling auto-broadcast; the
position sets are still explicitly broadcast by the operator). The two
forms are timed through tools/harness.py: min of 3 cold reps each,
alternating which goes first.

Usage: python tools/bloom_probe.py [sf_dir]   (default /tmp/sf1)
"""

from __future__ import annotations

import json
import sys

from harness import Harness, best  # puts the checkout root on sys.path
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.plans.runtime_filters import bloom_prefilter

REPS = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    with Harness("bloom-probe", confs={"spark.sql.autoBroadcastJoinThreshold": "-1"}) as h:
        dim = load(h.spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey", "s_nationkey")
        fact = load(h.spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")

        n_fact = fact.count()
        n_dim = dim.count()
        survivors = bloom_prefilter(fact, "l_suppkey", dim.select("s_suppkey"))
        n_surv = survivors.count()
        n_true = fact.join(dim, fact.l_suppkey == dim.s_suppkey, "left_semi").count()
        print(
            f"sf_dir={sf_dir} fact_rows={n_fact} dim_keys={n_dim} "
            f"true_matches={n_true} bloom_survivors={n_surv} "
            f"admit_ratio={n_surv / n_fact:.4f} "
            f"false_positive_rows={n_surv - n_true}"
        )

        def rollup(f):
            return f.join(dim, f.l_suppkey == dim.s_suppkey).groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n"))

        recs = h.sweep({"plain": lambda: rollup(fact), "bloom": lambda: rollup(survivors)}, REPS)
    times = best(recs)
    rows = {arm: {r["out"] for r in recs[arm]} for arm in recs}
    if rows["plain"] != rows["bloom"]:
        raise SystemExit(f"bloom probe: the two forms disagree on row counts: {rows}")
    t_plain, t_bloom = times["plain"], times["bloom"]
    print(
        f"shuffle-join wall (no auto-broadcast): plain={t_plain:.2f}s "
        f"bloom-prefiltered={t_bloom:.2f}s speedup={t_plain / t_bloom:.2f}x"
    )
    print(f"context: {json.dumps(h.context)}")


if __name__ == "__main__":
    main()
