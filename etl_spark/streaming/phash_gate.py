"""Streaming perceptual-hash dup gate: the multimodal twin of the
shingle history gate (``incremental_dedup``) — each ARRIVING payload
is fingerprinted and checked against a STATIC index of historical
fingerprints, flagging near-duplicates (lossy re-encodes of content
already ingested) the moment they arrive, before they hit storage.

Why a separate gate from the text one: the shingle gate measures
token-level containment and is blind to binary payloads; this gate
compares 60-bit aHash fingerprints under Hamming distance, so a
re-compressed image whose bytes share nothing with history under md5
OR shingling still trips it. Candidate generation is the batch
near-dup query's banded LSH (bands = HAM_MAX + 1, pigeonhole-
guaranteed recall at the bar) — one function, ``multimodal._bands``,
explodes the bands on both sides — as a stream-static band join: the
stream side is one micro-batch of (band, fingerprint) rows, the
static side is the historical band index (in production the
persisted artifact of the batch pass, refreshed on its own cadence).

State shape at scale: NO per-pair state — the stream holds only the
open event-time windows (reclaimed by the watermark), and the band
join output is bounded by band-bucket occupancy, the same n/2^bits
arithmetic as the batch query (plans/multimodal.py). The per-doc
verdict is a min-aggregate over its candidates, so duplicate
candidate rows from multi-band collisions cannot change the answer
(min is idempotent) and need no dedup shuffle. The fingerprint is
computed by the SAME Arrow mapInPandas stage batch uses (with
``carry`` threading the event time through, so no stream-stream
self-join is ever needed); payload bytes stop at that stage — only
8-byte fingerprints reach the join. The history side reads the same
corpus slice (``media_docs``) and the same exact-dup collapse
(``exact_reps``) as the batch query, and the stream contract
(``DOC_SCHEMA``, ``WATERMARK_DELAY``, ``WINDOW``) is the one
``incremental_dedup`` defines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.operators.media import perceptual_hash
from etl_spark.plans.llm_dedup import exact_reps
from etl_spark.plans.multimodal import (
    PHASH_GATE_MOD,
    PHASH_HAM_MAX,
    PHASH_MIN_LEN,
    _bands,
    media_docs,
)
from etl_spark.streaming.incremental_dedup import (
    DOC_SCHEMA,  # noqa: F401 - the stream's input schema, read from here too
    WATERMARK_DELAY,
    WINDOW,
)


def history_phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static band index of the HISTORICAL corpus (docs outside the
    ``doc_id % PHASH_GATE_MOD == 0`` ingest slice): (band_idx, band_val, hist_id,
    hist_phash). Exact payload dups collapse to one representative
    first — duplicate history rows cannot change a min-Hamming verdict
    and would only inflate band buckets."""
    reps = exact_reps(
        media_docs(spark, sf_dir, PHASH_MIN_LEN).filter(
            F.col("doc_id") % PHASH_GATE_MOD != 0
        )
    ).withColumn("payload", F.encode("text", "utf-8"))
    return _bands(perceptual_hash(reps)).select(
        "band_idx",
        "band_val",
        F.col("doc_id").alias("hist_id"),
        F.col("phash").alias("hist_phash"),
    )


def gate_verdicts(hashed: DataFrame, index: DataFrame, *group_cols) -> DataFrame:
    """Shared fingerprint-gate pipeline: band-explode the arriving
    fingerprints, LEFT-join the historical band index (a doc with no
    band collision must still be emitted — admitted, flag false),
    min-aggregate Hamming per doc with the nearest historical id as
    the deterministic (hamming, hist_id) tie-break. Batch and stream
    run THIS function, differing only in the watermark/window — the
    stream-vs-batch identity is structural."""
    cand = _bands(hashed).join(index, ["band_idx", "band_val"], "left")
    ham = F.expr("bit_count(phash ^ hist_phash)").cast("int")
    best = F.min(
        F.when(
            F.col("hist_phash").isNotNull(),
            F.struct(ham.alias("h"), F.col("hist_id").alias("i")),
        )
    )
    return (
        cand.groupBy(*group_cols, "doc_id")
        .agg(best.alias("best"))
        .select(
            "doc_id",
            F.col("best.h").alias("min_hamming"),
            F.col("best.i").alias("nearest_hist_id"),
            F.coalesce(
                F.col("best.h") <= PHASH_HAM_MAX, F.lit(False)
            ).alias("likely_dup"),
        )
    )


def phash_gate(docs: DataFrame, index: DataFrame) -> DataFrame:
    """Batch form: fingerprint (doc_id, text) rows and gate them
    against the index — the plan the streaming query extends with a
    watermark + window, making parity testable row-for-row."""
    hashed = perceptual_hash(
        docs.withColumn("payload", F.encode("text", "utf-8"))
    )
    return gate_verdicts(hashed, index)


def phash_gate_stream(doc_stream: DataFrame, index: DataFrame) -> DataFrame:
    """Streaming form: Arrow mapInPandas fingerprints each micro-batch
    (``carry`` threads ingest_ts through the stage, so the event time
    survives without a stream-stream self-join), stream-static band
    join, windowed per-doc verdict. ``doc_id`` joins the window in the
    groupBy so each doc aggregates alone; the window exists to give
    the watermark a closure horizon — per-doc state is reclaimed once
    ``ingest_ts`` passes it. Run in ``update`` mode for at-ingest
    flagging or ``append`` for emit-once-on-window-close."""
    hashed = perceptual_hash(
        doc_stream.withColumn("payload", F.encode("text", "utf-8")),
        carry=(("ingest_ts", "timestamp"),),
    )
    # The watermark goes on the mapInPandas OUTPUT: the stage emits new
    # attributes, so a watermark set on the raw stream would not
    # survive it (and defining it in both places is rejected outright).
    return gate_verdicts(
        hashed.withWatermark("ingest_ts", WATERMARK_DELAY),
        index,
        F.window("ingest_ts", WINDOW).alias("w"),
    )
