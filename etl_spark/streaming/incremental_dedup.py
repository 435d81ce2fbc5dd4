"""Streaming twin of ``dedup_incremental_batch``: an ONLINE near-dup
gate that scores each arriving document against a STATIC historical
shingle index via a stream-static join.

The batch incremental pass (plans/llm_dedup.py) runs per ingest batch;
a streaming deployment instead flags likely duplicates of history the
moment a document arrives, so obviously-redundant docs can be dropped
before they ever hit storage. The measure is history containment —
|doc shingles ∩ historical index| / |doc shingles| — which needs NO
per-pair state: the stream side holds only the open event-time
windows, and the historical index joins in as an ordinary static
DataFrame (Spark re-binds it per micro-batch; in production it is the
persisted posting-list index, refreshed by the batch pass on its own
cadence).

Scale shape: the stream-static join is shuffle-free on the stream
side when the index is broadcast-sized per shingle-partition — but
the index is corpus-derived, so we do NOT broadcast it (the same
discipline as the batch pair joins); Spark plans a per-micro-batch
shuffled join whose stream side is one micro-batch, not the corpus.
State = open windows only, reclaimed by the watermark.

The stream contract defined here — ``DOC_SCHEMA``, ``WATERMARK_DELAY``
and ``WINDOW`` — is the one every ingest gate reads: ``phash_gate``
and ``ingest_triad`` import it rather than restate it. The historical
slice collapses exact copies with ``llm_dedup.exact_reps``, the same
function the batch near-dup and phash families call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.plans.llm_dedup import (
    exact_reps,
    shingle_array,
    shingle_explode,
)

DOC_SCHEMA = "doc_id BIGINT, ingest_ts TIMESTAMP, text STRING"
WATERMARK_DELAY = "30 minutes"
WINDOW = "1 hour"
CONTAINMENT_FLAG = 0.8


def read_doc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream: each JSON file dropped into source_dir is a
    micro-batch of newly ingested documents."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(source_dir)
    )


def history_index(spark: SparkSession, sf_dir: str, batch_mod: int) -> DataFrame:
    """Static per-shingle index of the HISTORICAL corpus (docs outside
    the ``doc_id % batch_mod == 0`` ingest slice): (shingle, hist_df).

    Built from the RAW (uncapped) shingle explode, deliberately NOT
    from the stop-shingle-filtered index the pair joins use. The df
    cap exists to bound per-shingle PAIR emission (O(df²) blowup);
    this index has one row per shingle after the aggregate and each
    stream shingle joins at most one index row, so there is no blowup
    to prevent — while a capped index would make the gate blind to
    exactly the most-duplicated content: a doc identical to a
    template duplicated >cap times historically would score
    containment 0 and be admitted.

    The historical slice is exact-dup-collapsed (``exact_reps``)
    BEFORE shingling (filter-then-collapse, so every historical text
    keeps exactly one representative inside the slice): hist_df counts
    distinct historical TEXTS per shingle, not raw copies — a
    10^4x-duplicated template contributes 1, and the index size is
    bounded by content diversity rather than corpus volume. Presence
    (what the gate actually tests) is unchanged; only the df
    magnitudes are."""
    docs = load(spark, sf_dir, "documents")
    hist_reps = exact_reps(docs.filter(F.col("doc_id") % batch_mod != 0))
    return (
        shingle_explode(hist_reps)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("hist_df"))
    )


def _score(docs: DataFrame, index: DataFrame, *group_cols) -> DataFrame:
    """The shared explode → left-join-index → per-doc aggregate →
    containment-score pipeline. Batch and stream run THIS function —
    the twins differ only in the watermark on the input and the extra
    event-time window in ``group_cols`` — so the claimed stream-vs-
    batch identity is structural, not two copies kept in sync by
    hand."""
    exploded = docs.select(
        "doc_id",
        "ingest_ts",
        F.explode(shingle_array(F.split(F.col("text"), " "))).alias("shingle"),
    )
    scored = exploded.join(index, "shingle", "left")
    return (
        scored.groupBy(*group_cols, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hist_df").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_seen",
            (F.col("n_seen") / F.col("n_shingles")).alias("containment"),
            (F.col("n_seen") / F.col("n_shingles") >= CONTAINMENT_FLAG).alias(
                "likely_dup"
            ),
        )
    )


def history_overlap(docs: DataFrame, index: DataFrame) -> DataFrame:
    """Batch form of the per-doc overlap aggregation — the streaming
    query IS this plan with a watermark + event-time window bolted on,
    which is what makes stream-vs-batch parity testable row-for-row."""
    return _score(docs, index)


def history_overlap_stream(doc_stream: DataFrame, index: DataFrame) -> DataFrame:
    """Streaming history-containment gate: per arriving doc, the
    fraction of its shingles already present in the historical index.

    ``doc_id`` joins the window in the groupBy so each doc aggregates
    alone; the window exists to give the watermark a closure horizon —
    per-doc state is reclaimed once ``ingest_ts`` passes it. Run in
    ``update`` mode for at-ingest flagging (a doc's score refines if
    its shingle rows straddle micro-batches; docs contained in one
    batch emit exactly once) or ``append`` for emit-once-on-close when
    the stream has continuous event-time progress to advance the
    watermark."""
    return _score(
        doc_stream.withWatermark("ingest_ts", WATERMARK_DELAY),
        index,
        F.window("ingest_ts", WINDOW).alias("w"),
    )
