"""At-ingest TRAINED-MODEL gate: the streaming twin of the batch
classifier's scoring pass (plans/ml_train.py).

The ingestion triad this completes: arriving documents are gated by
(1) history containment (streaming/incremental_dedup.py), (2)
perceptual fingerprint (streaming/phash_gate.py), and — here — (3)
the TRAINED quality classifier: every arriving doc is scored with a
FROZEN model (the weights ml_logreg_train produced offline; model
refresh is a redeploy, exactly how fastText-style gates run in
production ingest) and carries its gate verdict downstream.

Spark shape: a stateless streaming projection — the model rides the
plan as a literal array (config-sized, the same contract as the batch
scoring pass), the margin is an in-row JVM higher-order aggregate
over the hashed token buckets, and the decision is one integer
comparison. No state store, no watermark, no Python: this stage adds
ZERO streaming state at any throughput, which is the point — model
inference at ingest must not be the stateful bottleneck.

Bit-exact batch parity: zraw is an exact BIGINT (same lattice as
training), so the streamed verdicts equal the batch scoring pass
row-for-row — pinned in tests/test_streaming_trained_gate.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.plans.llm_text import HASH_DIM, token_bucket


def score_documents(
    docs: DataFrame,
    weights: list[int],
    threshold: int = 0,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Score a (streaming or batch) documents frame with a frozen
    integer-lattice model: emits doc_id, dl, zraw and the gate verdict
    zraw > threshold * dl — i.e. the dl-normalized score z compared to
    the CALIBRATED cut threshold/W_SCALE as one exact integer
    cross-multiply (the classifier is a ranker; production gates run
    at a quantile cut chosen offline from the calibration table
    ml_logreg_quality_lift, not at z=0). Works on any frame with
    (doc_id, text); NULL text is unscorable and gated out with dl
    NULL, zraw NULL, gated FALSE (all three pinned — dl would
    otherwise be the legacy size(NULL)=-1 sentinel, which flips to
    NULL under ANSI mode; we emit NULL unconditionally so downstream
    consumers never see a config-dependent value)."""
    if len(weights) != HASH_DIM:
        raise ValueError(f"model must have {HASH_DIM} weights")
    wlit = F.lit(list(weights)).cast("array<bigint>")
    toks = F.split(F.col("text"), " ")
    dl = F.when(
        F.col("text").isNotNull(), F.size(toks).cast("bigint")
    )  # NULL (not -1) when unscorable
    zraw = F.aggregate(
        F.transform(toks, lambda t: F.element_at(wlit, token_bucket(t) + F.lit(1))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        *keep,  # passthrough (e.g. the event time for composed gates)
        dl.alias("dl"),
        zraw.alias("zraw"),
        F.coalesce(
            zraw > F.lit(threshold) * dl,
            F.lit(False),
        ).alias("gated_positive"),
    )

