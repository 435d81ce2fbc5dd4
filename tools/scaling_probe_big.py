"""Decade probe for the data-superlinear tail: wall time for the
dedup/graph/ANN/multimodal/curation families across sf0.1 -> sf1 ->
sf10 (a 100x span ABOVE the bench scale, where fixed per-query cost
no longer hides the data-proportional part).

sf1 and sf10 are key-shifted replications (tools/make_sfbig.py; sf10
replicates documents/embeddings/events only — exactly the tables
these families read). Because replication duplicates text EXACTLY,
the corpora measure the two phases these families have at scale:
the corpus-proportional phase (scan, md5 collapse, shingle explode,
fingerprinting) grows 10x per decade, while the representative-
bounded pair phase stays fixed — which is precisely the claim the
plans make ("collapse first, pair second"). A query whose time grows
FASTER than its corpus-proportional phase predicts is the red flag
this probe exists to catch.

Prints the run context and a markdown table (pasted into SCALING.md's
decade section) with per-sf result row counts: min of $PROBE_REPS
(default 2) cold reps per cell, through tools/harness.py.

Usage: [SPARK_DRIVER_MEMORY=16g] python tools/scaling_probe_big.py \
           [query ...]          (default: the full superlinear list)
"""

from __future__ import annotations

import json
import os
import sys

from scaling_probe import ladder  # puts the checkout root on sys.path

from etl_spark.plans import REGISTRY

SFS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", "/tmp/sf1"),
    ("sf10", "/tmp/sf10"),
]
# Override the three-corpus ladder, e.g. for the --perturb corpora:
#   PROBE_SF_DIRS="sf0.1=/root/testdata/sf0.1,sf1p=/tmp/sf1p,sf10p=/tmp/sf10p"
if os.environ.get("PROBE_SF_DIRS"):
    SFS = [
        tuple(pair.split("=", 1))
        for pair in os.environ["PROBE_SF_DIRS"].split(",")
    ]
    if len(SFS) != 3:
        raise SystemExit("PROBE_SF_DIRS needs exactly 3 label=dir pairs")

# The data-superlinear candidates: everything whose naive form is
# O(pairs) or O(corpus x index) rather than O(rows).
PROBES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "dedup_containment_pairs",
    "dedup_simhash",
    "dedup_incremental_batch",
    "dedup_clusters",
    "graph_dup_triangles",
    "graph_dup_pagerank",
    "sim_pq_adc",
    "sim_ivfpq_search",
    "mm_phash_neardup",
    "mm_phash_pixels_neardup",
    "mm_phash_clusters",
    "mm_phash_history_gate",
    "curation_train_val_split",
    # round 8: trained operators (label = pair join, training passes
    # rescan the corpus) and the third-container pair family
    "ml_logreg_train",
    "ml_logreg_quality_lift",
    "text_bpe_learn",
    "text_bpe_fertility",
    "mm_phash_gif_pixels_neardup",
    "pipeline_incremental_refresh",
    # round 9: composed gate triad, regularized training, time-travel
    # checksum bridge, and the oracle-paired sketch verdict forms
    "pipeline_ingest_triad",
    "ml_logreg_train_l2",
    "ml_logreg_holdout_lift_l2",
    "lakehouse_time_travel_checksums",
    # (the orders-based sketch verdicts are NOT probed here: sf1/sf10
    # replicate documents/embeddings/events only, so orders stays at
    # bench size and a decade row would be vacuous)
    "events_rolling_7d_active_users_approx",
    "lakehouse_equality_delete_checksums",
    "curation_epoch_expand",
    "pipeline_build_training_mix",
]

REPS = int(os.environ.get("PROBE_REPS", "2"))


def main() -> None:
    probes = sys.argv[1:] or PROBES
    for name in probes:
        if name not in REGISTRY:
            raise SystemExit(f"unknown query {name}")
    for sf, d in SFS:
        if not os.path.exists(os.path.join(d, "_DONE")) and "testdata" not in d:
            raise SystemExit(f"{sf} corpus missing at {d} (run make_sfbig)")
    context, cells = ladder("scaling-probe-big", probes, SFS, REPS)
    print(f"context: {json.dumps(context)}")
    print(f"reps: {REPS} (min recorded)\n")
    l0, l1, l2 = (sf for sf, _ in SFS)
    print(f"| query | {l0} | {l1} | {l2} | slope {l0}->{l1} "
          f"| slope {l1}->{l2} | rows {l0}/{l1}/{l2} |")
    print("|---|---|---|---|---|---|---|")
    for name in probes:
        (a, ra), (b, rb), (c, rc) = cells[name]
        print(f"| {name} | {a:.2f} s | {b:.2f} s | {c:.2f} s | {b / a:.1f}x | {c / b:.1f}x | {ra}/{rb}/{rc} |")


if __name__ == "__main__":
    main()
