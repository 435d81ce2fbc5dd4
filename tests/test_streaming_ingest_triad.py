"""Composed ingest triad: the single streaming query chaining the
containment, phash, and trained-model gates must (1) produce verdicts
bit-exactly equal to its batch twin AND to the three standalone batch
gates, and (2) hold state in exactly ONE operator — composing the
gates must not stack state stores."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.plans.ml_train import _train
from etl_spark.plans.multimodal import _ASCII_DOCS
from etl_spark.streaming.incremental_dedup import (
    history_index,
    history_overlap,
)
from etl_spark.streaming.ingest_triad import (
    TRIAD_MOD,
    funnel_summary,
    ingest_triad,
    ingest_triad_stream,
)
from etl_spark.streaming.phash_gate import (
    DOC_SCHEMA,
    history_phash_index,
    phash_gate,
)
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.trained_gate import score_documents
from tests.conftest import SF_DIR


def _arriving(spark):
    return (
        load(spark, SF_DIR, "documents")
        .where(_ASCII_DOCS)
        .where(F.length("text") >= 60)
        .filter(F.col("doc_id") % TRIAD_MOD == 0)
        .select(
            "doc_id",
            F.lit("2026-01-01 00:10:00").cast("timestamp").alias("ingest_ts"),
            "text",
        )
    )


def _verdict_tuple(r):
    return (
        r["n_shingles"],
        r["n_seen"],
        r["containment"],
        r["likely_dup_text"],
        r["min_hamming"],
        r["nearest_hist_id"],
        r["likely_dup_phash"],
        r["zraw"],
        r["dl"],
        r["gated_positive"],
        r["admitted"],
    )


def test_triad_stream_matches_batch_and_standalone_gates(spark, tmp_path):
    pdf = _arriving(spark).drop("ingest_ts").toPandas()
    assert len(pdf) > 10
    src = tmp_path / "src"
    src.mkdir()
    n_files = 10  # maxFilesPerTrigger=4 -> >= 3 micro-batches
    per = max(1, (len(pdf) + n_files - 1) // n_files)
    for i in range(n_files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"batch_{i}.json", "w") as f:
            for _, r in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "doc_id": int(r.doc_id),
                            "ingest_ts": "2026-01-01T00:10:00.000",
                            "text": r.text,
                        }
                    )
                    + "\n"
                )

    shingle_index = history_index(spark, SF_DIR, TRIAD_MOD)
    band_index = history_phash_index(spark, SF_DIR)
    hist, _feats, _n = _train(spark, SF_DIR)
    weights = hist[-1]

    doc_stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(str(src))
    )
    q = drain(
        ingest_triad_stream(doc_stream, shingle_index, band_index, weights),
        "triad_sink",
        "update",
    )
    try:
        streamed = {
            r["doc_id"]: _verdict_tuple(r)
            for r in spark.sql("SELECT * FROM triad_sink").collect()
        }
        # every trigger that touched state used exactly ONE state
        # store: the composed per-doc window aggregate — the union
        # branches and stream-static joins are stateless.
        state_ops = [
            len(p["stateOperators"])
            for p in (json.loads(x.json) for x in q.recentProgress)
            if p["stateOperators"]
        ]
        assert state_ops and set(state_ops) == {1}
    finally:
        spark.sql("DROP TABLE IF EXISTS triad_sink")

    batch = {
        r["doc_id"]: _verdict_tuple(r)
        for r in ingest_triad(
            _arriving(spark), shingle_index, band_index, weights
        ).collect()
    }
    assert streamed == batch  # bit-exact stream-vs-batch
    assert len(batch) == len(pdf)  # every arriving doc got a verdict

    # ... and the composition did not change any single gate's
    # semantics: each verdict column equals the standalone gate.
    containment = {
        r["doc_id"]: (r["n_shingles"], r["n_seen"], r["containment"], r["likely_dup"])
        for r in history_overlap(_arriving(spark), shingle_index).collect()
    }
    phash = {
        r["doc_id"]: (r["min_hamming"], r["nearest_hist_id"], r["likely_dup"])
        for r in phash_gate(
            _arriving(spark).select("doc_id", "text"), band_index
        ).collect()
    }
    trained = {
        r["doc_id"]: (r["zraw"], r["dl"], r["gated_positive"])
        for r in score_documents(
            _arriving(spark), weights
        ).collect()
    }
    for doc_id, v in batch.items():
        (n_sh, n_seen, cont, f_text, ham, hist_id, f_ph, zraw, dl, f_ml,
         admitted) = v
        assert containment.get(doc_id, (0, 0, None, False)) == (
            n_sh, n_seen, cont, f_text,
        ), doc_id
        assert phash[doc_id] == (ham, hist_id, f_ph), doc_id
        assert trained[doc_id] == (zraw, dl, f_ml), doc_id
        assert admitted == (not (f_text or f_ph or f_ml)), doc_id


def test_funnel_rollup_matches_streamed_triad(spark, tmp_path):
    """VERDICT r9 #7: the registered funnel dashboard
    (pipeline_ingest_funnel) must equal funnel_summary over the
    STREAMED triad's drained sink across >= 3 micro-batches — the
    per-doc triad has stream-vs-batch parity fenced; this fences the
    roll-up the operator actually alerts on."""
    from etl_spark.plans.triad import pipeline_ingest_funnel

    pdf = _arriving(spark).drop("ingest_ts").toPandas()
    src = tmp_path / "src"
    src.mkdir()
    n_files = 10  # maxFilesPerTrigger=4 -> >= 3 micro-batches
    per = max(1, (len(pdf) + n_files - 1) // n_files)
    for i in range(n_files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"batch_{i}.json", "w") as f:
            for _, r in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "doc_id": int(r.doc_id),
                            "ingest_ts": "2026-01-01T00:10:00.000",
                            "text": r.text,
                        }
                    )
                    + "\n"
                )

    shingle_index = history_index(spark, SF_DIR, TRIAD_MOD)
    band_index = history_phash_index(spark, SF_DIR)
    hist, _feats, _n = _train(spark, SF_DIR)
    doc_stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(str(src))
    )
    q = drain(
        ingest_triad_stream(doc_stream, shingle_index, band_index, hist[-1]),
        "triad_funnel_sink",
        "update",
    )
    try:
        n_batches = sum(
            1
            for x in q.recentProgress
            if json.loads(x.json)["numInputRows"] > 0
        )
        assert n_batches >= 3
        streamed_funnel = funnel_summary(
            spark.sql("SELECT * FROM triad_funnel_sink")
        ).collect()[0]
    finally:
        spark.sql("DROP TABLE IF EXISTS triad_funnel_sink")

    registered = pipeline_ingest_funnel(spark, SF_DIR).collect()[0]
    assert tuple(streamed_funnel) == tuple(registered)
    assert registered["n_arriving"] == len(pdf)


def test_triad_funnel_is_consistent_with_verdicts(spark):
    shingle_index = history_index(spark, SF_DIR, TRIAD_MOD)
    band_index = history_phash_index(spark, SF_DIR)
    hist, _feats, _n = _train(spark, SF_DIR)
    verdicts = ingest_triad(
        _arriving(spark), shingle_index, band_index, hist[-1]
    )
    rows = verdicts.collect()
    f = funnel_summary(verdicts).collect()[0]
    n = len(rows)
    after_text = sum(1 for r in rows if not r["likely_dup_text"])
    after_ph = sum(
        1 for r in rows
        if not r["likely_dup_text"] and not r["likely_dup_phash"]
    )
    admitted = sum(1 for r in rows if r["admitted"])
    assert (
        f["n_arriving"], f["n_after_text_gate"],
        f["n_after_phash_gate"], f["n_admitted"],
    ) == (n, after_text, after_ph, admitted)
    assert f["admit_rate"] == admitted / n
    # the funnel is monotone and each gate does SOMETHING on this
    # corpus slice (non-vacuous composition)
    assert n >= after_text >= after_ph >= admitted
    assert admitted < n
