"""Broadcast-policy fence: a forced ``F.broadcast`` pins the build side
into executor memory at EVERY scale — it must only ever wrap a frame
whose size is bounded by something other than the data (a constant dim,
a group-bounded aggregate, a limit-capped top-N, a config-sized spine).

Round-3 advice found data-sized broadcasts that shipped behind
"broadcast-sized" docstrings (doc-cardinality size tables, the full
customer/supplier/part dims — all SF-scaling). This test makes that
class unshippable: every ``F.broadcast`` call site in ``etl_spark``
must appear in the reviewed allowlist below with its boundedness
argument. Adding a new broadcast means adding a row here — i.e. writing
down WHY the build side stays small at 100 TB.
"""

from __future__ import annotations

import ast
from pathlib import Path

PLANS = Path(__file__).resolve().parent.parent / "etl_spark"

# (module, enclosing function, broadcast argument source) -> why bounded
ALLOWED: dict[tuple[str, str, str], str] = {
    ("plans/advanced.py", "join_salted_event_geo", "load(spark, sf_dir, 'nation')"):
        "nation: constant 25 rows at every TPC-H SF",
    ("plans/analytics.py", "part_price_zscore_by_type", "stats"):
        "per-p_type moments: |distinct p_type| = 150, constant",
    ("plans/analytics.py", "events_value_outliers_mad", "med"):
        "per-event_type median: 5 event types, constant",
    ("plans/analytics.py", "events_value_outliers_mad", "mad"):
        "per-event_type MAD: 5 event types, constant",
    ("plans/stats.py", "stats_winsorized_value", "cuts"):
        "per-event_type winsor cut points: 5 event types, constant",
    ("plans/quality.py", "dq_freshness_by_source", "g"):
        "single-row global max-timestamp aggregate",
    ("plans/analytics.py", "events_rolling_7d_active_users", "days"):
        "generated day spine: bounded by the calendar span",
    ("plans/analytics.py", "events_rolling_7d_active_users_approx", "days"):
        "generated day spine: bounded by the calendar span",
    ("plans/analytics.py", "events_rolling_7d_active_users_approx_raw", "days"):
        "generated day spine: bounded by the calendar span",
    ("plans/frames.py", "agg_approx_percentiles", "approx"):
        "per-status sketch values: |distinct o_orderstatus| = 3, constant",
    ("plans/curation.py", "sample_mixture_weights", "tot"):
        "single-row global total",
    ("plans/curation.py", "_epoch_copies", "n_max"):
        "single-row global max language count",
    ("plans/curation.py", "_epoch_copies", "per_lang"):
        "per-language epoch factors: |distinct lang| = 5, constant",
    ("plans/curation.py", "sample_mixture_weights", "wsum"):
        "single-row weighted sum",
    ("plans/curation.py", "sample_domain_reweight_step", "tot"):
        "single-row (total, n_domains, min_loss) scalars",
    ("plans/curation.py", "sample_domain_reweight_step", "msum"):
        "single-row multiplicative-weight sum",
    ("plans/curation.py", "curation_train_val_split", "leaks"):
        "single-row exact-dup leak counter",
    ("plans/curation.py", "text_decontam_pairs", "ev"):
        "eval-set shingles: decontamination assumes a benchmark-sized "
        "eval suite, orders of magnitude below the training corpus "
        "(the standard production assumption; documented in the plan)",
    ("plans/events.py", "events_hourly_gapfill", "agg"):
        "hourly per-type aggregate: rows = hours x 5 types, grid-bounded",
    ("plans/events.py", "events_hourly_locf", "agg"):
        "hourly per-type aggregate: rows = hours x 5 types, grid-bounded",
    ("plans/events.py", "events_hourly_interp", "agg"):
        "hourly per-type aggregate: rows = hours x 5 types, grid-bounded",
    ("plans/frames.py", "range_join_value_buckets", "buckets"):
        "config-defined bucket edge table",
    ("plans/runtime_filters.py", "bloom_prefilter", "positions"):
        "bloom position set: DISTINCT xxhash64-mod-BLOOM_M buckets, "
        "<= BLOOM_M (2^16) rows by construction at every dim size — "
        "boundedness independent of the data is the family's point",
    ("plans/llm_similarity.py", "cell_chunks", "cells"):
        "per-cell chunk counts, one row per cell: sim_nn_within_label's "
        "label cells (nlist-sized — 10 here, a few thousand in a real "
        "index) and sim_knn_join's k = floor(sqrt(|B|)) trained cells "
        "(~30k rows at a billion vectors) — never data-sized",
    # text_langid_ngram's profile broadcast was removed in r10: the
    # config-sized profile is collected and scoring is in-row literals.
    ("plans/ml.py", "sim_ivfpq_rerank", "qvec"):
        "query vectors: PQ_QUERY_HI - PQ_QUERY_LO rows, config-sized "
        "regardless of corpus (the same set every PQ query collects)",
    ("plans/llm_text.py", "text_cms_term_counts", "cms"):
        "count-min sketch: K x W cells, config-sized",
    ("plans/llm_text.py", "text_vocab_growth", "bounds"):
        "single-row corpus bounds",
    ("plans/llm_text.py", "text_bm25_rank", "df"):
        "per-query-term document frequencies: |BM25_TERMS| rows, "
        "config-sized",
    ("plans/llm_text.py", "text_bm25_rank", "stats"):
        "single-row corpus (N, total_dl) aggregate",
    ("plans/llm_text.py", "text_oov_rate", "vocab"):
        "vocabulary capped by .limit(VOCAB_SIZE)",
    ("plans/ml.py", "ml_cluster_separation", "cent"):
        "k x dim centroid table, config-sized",
    ("plans/ml.py", "sim_ivf_kmeans_probe", "probes"):
        "IVF probe list: N_QUERIES x N_PROBE rows, config-sized",
    ("plans/relational.py", "join_broadcast_geo_rollup", "region"):
        "region: constant 5 rows",
    ("plans/relational.py", "join_broadcast_geo_rollup", "nation"):
        "nation: constant 25 rows",
    ("plans/relational.py", "q5_local_supplier_volume", "nation"):
        "nation: constant 25 rows",
    ("plans/relational.py", "supplier_balance_rollup", "nation"):
        "nation: constant 25 rows",
    ("plans/relational.py", "q10_returned_revenue_top20", "nation"):
        "nation: constant 25 rows",
    ("plans/stats.py", "stats_string_agg_nations", "region"):
        "region: constant 5 rows",
    ("plans/subqueries.py", "q8_market_share", "n1"):
        "nation alias: constant 25 rows",
    ("plans/subqueries.py", "q8_market_share", "n2"):
        "nation alias: constant 25 rows",
    ("plans/subqueries.py", "q8_market_share", "region"):
        "region: constant 5 rows",
    ("plans/subqueries.py", "q9_profit_by_nation_year", "nation"):
        "nation: constant 25 rows",
    ("streaming/windows.py", "enriched_category_totals_stream", "dim"):
        "EVENT_TYPE_DIM constant: 5 rows",
    ("plans/curation.py", "curation_context_length_sweep", "langagg"):
        "per-ctx_len window counts: rows = len(CTX_SWEEP) = 4, constant",
    ("plans/lakehouse.py", "_refresh_parts", "g"):
        "single-row global max-day aggregate",
    ("plans/bpe.py", "text_bpe_fertility", "seg"):
        "learned-BPE segmentation lengths: one row per word TYPE — "
        "vocab-bounded (Heaps-sublinear in corpus size), the same "
        "boundedness as any tokenizer vocabulary shipped to workers",
}


def _broadcast_sites():
    sites = []
    for path in sorted(PLANS.rglob("*.py")):
        rel = str(path.relative_to(PLANS))
        tree = ast.parse(path.read_text())
        spans = [
            (n.name, n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and node.args
            ):
                # innermost enclosing function
                fn = "<module>"
                best = None
                for name, a, b in spans:
                    if a <= node.lineno <= b and (best is None or a > best):
                        fn, best = name, a
                sites.append((rel, fn, ast.unparse(node.args[0]), node.lineno))
    return sites


def test_every_forced_broadcast_is_allowlisted():
    unreviewed = [
        f"{rel}:{line} in {fn}: F.broadcast({arg})"
        for rel, fn, arg, line in _broadcast_sites()
        if (rel, fn, arg) not in ALLOWED
    ]
    assert not unreviewed, (
        "Forced broadcast without a boundedness review — either the "
        "build side is data-sized (drop the hint, let AQE choose) or it "
        "is bounded (add it to ALLOWED with the argument):\n"
        + "\n".join(unreviewed)
    )


def test_allowlist_has_no_stale_entries():
    live = {(rel, fn, arg) for rel, fn, arg, _ in _broadcast_sites()}
    stale = [k for k in ALLOWED if k not in live]
    assert not stale, f"ALLOWED entries no longer in code: {stale}"
