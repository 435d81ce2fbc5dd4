"""Streaming perceptual-hash dup gate: the multimodal twin of the
shingle history gate (``incremental_dedup``) — each ARRIVING payload
is fingerprinted and checked against a STATIC index of historical
fingerprints, flagging near-duplicates (lossy re-encodes of content
already ingested) the moment they arrive, before they hit storage.

Why a separate gate from the text one: the shingle gate measures
token-level containment and is blind to binary payloads; this gate
compares 60-bit aHash fingerprints under Hamming distance, so a
re-compressed image whose bytes share nothing with history under md5
OR shingling still trips it. Candidate generation is the SAME
banded-LSH shape the batch near-dup query uses (bands = HAM_MAX + 1,
pigeonhole-guaranteed recall at the bar), as a stream-static band
join: the stream side is one micro-batch of (band, fingerprint) rows,
the static side is the historical band index (in production the
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
8-byte fingerprints reach the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.operators.media import perceptual_hash
from etl_spark.plans.multimodal import (
    PHASH_BAND_BITS,
    PHASH_BAND_MASK,
    PHASH_BANDS,
    PHASH_GATE_MOD,
    PHASH_HAM_MAX,
    _ASCII_DOCS,
)

DOC_SCHEMA = "doc_id BIGINT, ingest_ts TIMESTAMP, text STRING"
WATERMARK_DELAY = "30 minutes"
WINDOW = "1 hour"


def _bands(hashed: DataFrame) -> DataFrame:
    """Explode each fingerprint into one row per LSH band; every
    column other than phash rides along."""
    structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(
                    f"shiftright(phash, {PHASH_BAND_BITS * b})"
                    f" & {PHASH_BAND_MASK}"
                ).alias("band_val"),
            )
            for b in range(PHASH_BANDS)
        ]
    )
    passthrough = [c for c in hashed.columns]
    return hashed.select(
        *passthrough, F.explode(structs).alias("bs")
    ).select(*passthrough, F.col("bs.band_idx"), F.col("bs.band_val"))


def history_phash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static band index of the HISTORICAL corpus (docs outside the
    ``doc_id % PHASH_GATE_MOD == 0`` ingest slice): (band_idx, band_val, hist_id,
    hist_phash). Exact payload dups collapse to one representative
    first — duplicate history rows cannot change a min-Hamming verdict
    and would only inflate band buckets."""
    reps = (
        load(spark, sf_dir, "documents")
        .where(_ASCII_DOCS)
        .where(F.length("text") >= 60)
        .filter(F.col("doc_id") % PHASH_GATE_MOD != 0)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .withColumn("payload", F.encode("text", "utf-8"))
    )
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
