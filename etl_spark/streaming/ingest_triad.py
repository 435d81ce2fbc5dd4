"""The composed at-ingest TRIAD: one streaming query that drives every
arriving document through all three ingest gates —

1. **history containment** (incremental_dedup): fraction of the doc's
   shingles already present in the static historical shingle index;
2. **perceptual fingerprint** (phash_gate): min Hamming distance of
   the doc's payload aHash against the static historical band index;
3. **trained model** (trained_gate): the frozen ml_logreg_train
   classifier's margin, scored in-row.

— and emits ONE verdict row per document with a per-gate flag column
plus the combined admission verdict. This is the streaming sibling of
``pipeline_curate_multimodal``: the individual gates exist (and are
parity-tested) standalone; production runs them composed, because a
doc admitted by two gates and rejected by the third must still be
rejected exactly once, with the full verdict vector attached for
audit.

Spark shape — ONE stateful operator for all three gates:

* The plan fans the arriving stream into three branches — shingle
  rows LEFT-joined to the shingle index, band-candidate rows
  LEFT-joined to the fingerprint band index (after the Arrow
  fingerprint stage), and ONE stateless model-score row per doc —
  and UNIONs them into a single tagged feature stream. Stream-static
  joins and the union hold NO state.
* One windowed groupBy((window, doc_id)) then folds the union into
  the per-doc verdict vector: the containment ratio and the
  min-Hamming struct are aggregates over their branch's rows; the
  trained margin rides through untouched (max over its single row).
  That aggregate is the ONLY state store in the whole query —
  asserted via StreamingQueryProgress in
  tests/test_streaming_ingest_triad.py — and its state is reclaimed
  by the watermark, so composing the gates costs the same state as
  running the containment gate alone. Chaining three separate
  windowed aggregations would instead stack three state stores and
  trip the multi-stateful-operator restrictions; folding through one
  union-then-aggregate is the composition that scales.
* Batch and stream run the SAME branch/aggregate functions (the
  structural-parity discipline of every streaming twin here), so
  stream-vs-batch bit-exactness is a property of the plan, not two
  hand-synced copies. The batch form is registered + oracle-paired
  as ``pipeline_ingest_triad`` (plans/curation.py), composing the
  three gates' existing oracle machinery into one DuckDB replay.

At 100 TB: per-trigger cost is O(micro-batch shingles + band
collisions + tokens); both indexes are static artifacts the batch
pipelines refresh on their own cadence; the model is a plan literal.
Nothing in the composed query holds per-pair or per-history state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.operators.media import perceptual_hash
from etl_spark.plans.llm_dedup import shingle_array
from etl_spark.plans.multimodal import PHASH_HAM_MAX, _bands
from etl_spark.streaming.incremental_dedup import (
    CONTAINMENT_FLAG,
    WATERMARK_DELAY,
    WINDOW,
)
from etl_spark.streaming.trained_gate import score_documents

#: One ingest-slice convention for the composed gate (both component
#: gates already use mod 10; the triad keeps them aligned).
TRIAD_MOD = 10


def _union_schema(df: DataFrame) -> DataFrame:
    """Align a branch to the shared tagged-feature schema."""
    cols = {
        "seen": "boolean",
        "ham": "int",
        "hist_id": "bigint",
        "zraw": "bigint",
        "dl": "bigint",
    }
    out = [F.col("doc_id"), F.col("ingest_ts"), F.col("kind")]
    for c, t in cols.items():
        out.append(
            (F.col(c) if c in df.columns else F.lit(None)).cast(t).alias(c)
        )
    return df.select(*out)


def triad_feature_union(
    docs_text: DataFrame,
    hashed: DataFrame,
    docs_ml: DataFrame,
    shingle_index: DataFrame,
    band_index: DataFrame,
    weights: list[int],
) -> DataFrame:
    """The three gate branches as ONE tagged feature stream. Inputs
    are the (possibly watermarked) arriving docs — ``docs_text`` and
    ``docs_ml`` as (doc_id, ingest_ts, text), ``hashed`` as the
    fingerprint stage's output (doc_id, ingest_ts, phash) — split so
    the stream wrapper can put the watermark AFTER the Arrow stage
    (mapInPandas emits new attributes; a watermark set before it
    would not survive)."""
    sh = _union_schema(
        docs_text.select(
            "doc_id",
            "ingest_ts",
            F.explode(
                shingle_array(F.split(F.col("text"), " "))
            ).alias("shingle"),
        )
        .join(shingle_index, "shingle", "left")
        .select(
            "doc_id",
            "ingest_ts",
            F.lit("sh").alias("kind"),
            F.col("hist_df").isNotNull().alias("seen"),
        )
    )
    ph = _union_schema(
        _bands(hashed)
        .join(band_index, ["band_idx", "band_val"], "left")
        .select(
            "doc_id",
            "ingest_ts",
            F.lit("ph").alias("kind"),
            F.when(
                F.col("hist_phash").isNotNull(),
                F.expr("bit_count(phash ^ hist_phash)").cast("int"),
            ).alias("ham"),
            "hist_id",
        )
    )
    ml = _union_schema(
        score_documents(docs_ml, weights, keep=("ingest_ts",)).select(
            "doc_id", "ingest_ts", F.lit("ml").alias("kind"), "zraw", "dl"
        )
    )
    return sh.unionByName(ph).unionByName(ml)


def triad_verdicts(
    union: DataFrame, *group_cols
) -> DataFrame:
    """Fold the tagged feature union into one verdict row per doc —
    the single aggregation (and, streamed, the single state store) of
    the composed gate. Column semantics are IDENTICAL to the three
    standalone gates' outputs (parity-fenced)."""
    is_sh = F.col("kind") == "sh"
    is_ph = (F.col("kind") == "ph") & F.col("ham").isNotNull()
    best = F.min(
        F.when(
            is_ph, F.struct(F.col("ham").alias("h"), F.col("hist_id").alias("i"))
        )
    )
    agg = union.groupBy(*group_cols, "doc_id").agg(
        F.count(F.when(is_sh, F.lit(1))).alias("n_shingles"),
        F.count(F.when(is_sh & F.col("seen"), F.lit(1))).alias("n_seen"),
        best.alias("best"),
        F.max(F.when(F.col("kind") == "ml", F.col("zraw"))).alias("zraw"),
        F.max(F.when(F.col("kind") == "ml", F.col("dl"))).alias("dl"),
    )
    containment = F.col("n_seen") / F.col("n_shingles")
    flag_text = F.coalesce(containment >= CONTAINMENT_FLAG, F.lit(False))
    flag_phash = F.coalesce(
        F.col("best.h") <= PHASH_HAM_MAX, F.lit(False)
    )
    # The trained gate's z = 0 cut (score_documents' default threshold).
    flag_model = F.coalesce(
        F.col("zraw") > F.lit(0) * F.col("dl"), F.lit(False)
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_seen",
        containment.alias("containment"),
        flag_text.alias("likely_dup_text"),
        F.col("best.h").alias("min_hamming"),
        F.col("best.i").alias("nearest_hist_id"),
        flag_phash.alias("likely_dup_phash"),
        "zraw",
        "dl",
        flag_model.alias("gated_positive"),
        (~(flag_text | flag_phash | flag_model)).alias("admitted"),
    )


def ingest_triad(
    docs: DataFrame,
    shingle_index: DataFrame,
    band_index: DataFrame,
    weights: list[int],
) -> DataFrame:
    """Batch form: one verdict row per (doc_id, ingest_ts, text) input
    row — the plan the streaming query extends with a watermark +
    event-time window, making parity testable row-for-row."""
    hashed = perceptual_hash(
        docs.withColumn("payload", F.encode("text", "utf-8")),
        carry=(("ingest_ts", "timestamp"),),
    )
    union = triad_feature_union(
        docs, hashed, docs, shingle_index, band_index, weights
    )
    return triad_verdicts(union)


def ingest_triad_stream(
    doc_stream: DataFrame,
    shingle_index: DataFrame,
    band_index: DataFrame,
    weights: list[int],
) -> DataFrame:
    """Streaming form: watermark per branch (the union takes the min
    across inputs), ONE windowed per-doc aggregate for all three
    gates. ``doc_id`` joins the window in the groupBy so each doc
    aggregates alone; the window gives the watermark a closure
    horizon — per-doc state is reclaimed once ``ingest_ts`` passes
    it. Run in ``update`` mode for at-ingest flagging or ``append``
    for emit-once-on-window-close."""
    wm = doc_stream.withWatermark("ingest_ts", WATERMARK_DELAY)
    hashed = perceptual_hash(
        doc_stream.withColumn("payload", F.encode("text", "utf-8")),
        carry=(("ingest_ts", "timestamp"),),
    ).withWatermark("ingest_ts", WATERMARK_DELAY)
    union = triad_feature_union(wm, hashed, wm, shingle_index, band_index, weights)
    return triad_verdicts(union, F.window("ingest_ts", WINDOW).alias("w"))


def funnel_summary(verdicts: DataFrame) -> DataFrame:
    """The gate funnel: arriving count, survivors after each gate
    applied in sequence (text → phash → trained), and the final
    admitted count with its rate. A plain batch aggregate — run it on
    the drained sink table (or the batch twin's output); it is a
    report over verdicts, not a second state store in the stream."""
    n = F.count(F.lit(1))
    after_text = F.sum((~F.col("likely_dup_text")).cast("bigint"))
    after_phash = F.sum(
        (~F.col("likely_dup_text") & ~F.col("likely_dup_phash")).cast("bigint")
    )
    admitted = F.sum(F.col("admitted").cast("bigint"))
    return verdicts.agg(
        n.cast("bigint").alias("n_arriving"),
        after_text.alias("n_after_text_gate"),
        after_phash.alias("n_after_phash_gate"),
        admitted.alias("n_admitted"),
        (admitted / n).alias("admit_rate"),
    )
