"""Streaming incremental-dedup gate: the stream-static join form must
produce row-for-row the same per-doc history-containment scores as the
batch recompute over the same documents and the same static index."""

from __future__ import annotations

import json

from etl_spark.io import load
from etl_spark.plans.llm_dedup import INCREMENTAL_BATCH_MOD
from etl_spark.streaming.incremental_dedup import (
    history_index,
    history_overlap,
    history_overlap_stream,
    read_doc_stream,
)
from etl_spark.streaming.sinks import drain
from tests.conftest import SF_DIR


def test_stream_matches_batch_history_overlap(spark, tmp_path):
    docs = load(spark, SF_DIR, "documents").filter(
        f"text IS NOT NULL AND doc_id % {INCREMENTAL_BATCH_MOD} = 0"
    )
    pdf = docs.select("doc_id", "text").toPandas()
    src = tmp_path / "src"
    src.mkdir()
    # 10 files x maxFilesPerTrigger=4 -> >= 3 micro-batches, so the
    # static index is re-bound across batches, not just once.
    n_files = 10
    per = max(1, (len(pdf) + n_files - 1) // n_files)
    for i in range(n_files):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        with open(src / f"batch_{i}.json", "w") as f:
            for _, r in chunk.iterrows():
                f.write(
                    json.dumps(
                        {
                            "doc_id": int(r.doc_id),
                            # same in-window ts everywhere: the window
                            # only exists for watermark closure
                            "ingest_ts": "2026-01-01T00:10:00.000",
                            "text": r.text,
                        }
                    )
                    + "\n"
                )

    index = history_index(spark, SF_DIR, INCREMENTAL_BATCH_MOD)
    stream = history_overlap_stream(read_doc_stream(spark, str(src)), index)
    # update mode: every doc lives entirely inside one source file, so
    # its aggregate is complete in its micro-batch and emitted once —
    # append mode would hold every window open forever because no
    # later event ever advances the watermark past window end. The
    # dict comprehension keeps the LAST emission per doc regardless.
    q = drain(stream, "inc_dedup_stream", "update")
    try:
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_seen"], r["likely_dup"])
            for r in spark.sql("SELECT * FROM inc_dedup_stream").collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS inc_dedup_stream")

    batch_docs = docs.selectExpr(
        "doc_id", "CAST('2026-01-01 00:10:00' AS TIMESTAMP) AS ingest_ts", "text"
    )
    expected = {
        r["doc_id"]: (r["n_shingles"], r["n_seen"], r["likely_dup"])
        for r in history_overlap(batch_docs, index).collect()
    }
    assert got == expected
    assert len(got) > 0
    # The fixture corpus carries real cross-slice duplication — the
    # gate must actually see history, not just emit zeros.
    assert any(n_seen > 0 for _, n_seen, _ in got.values())


def test_gate_flags_doc_matching_hot_template(spark, tmp_path):
    """Regression: the history index must be UNCAPPED. When a template
    is duplicated in history more often than STOP_SHINGLE_MAX_DF, a
    new doc identical to it must score containment 1.0 — with the
    capped pair-join index it scored 0 and the most-redundant doc
    possible sailed through the gate."""
    from etl_spark.plans.llm_dedup import STOP_SHINGLE_MAX_DF

    template = "alpha beta gamma delta epsilon zeta"
    n_hist = STOP_SHINGLE_MAX_DF * 2  # every template shingle df > cap
    rows = [(i * 10 + 1, template) for i in range(n_hist)]  # % 10 != 0
    rows.append((1007, "totally fresh unseen words here now"))
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    index = history_index(spark, sf_dir, INCREMENTAL_BATCH_MOD)
    arriving = spark.createDataFrame(
        [(5000, template), (5010, "totally novel never seen content")],
        ["doc_id", "text"],
    ).selectExpr(
        "doc_id", "CAST('2026-01-01 00:10:00' AS TIMESTAMP) AS ingest_ts", "text"
    )
    got = {
        r["doc_id"]: (r["containment"], r["likely_dup"])
        for r in history_overlap(arriving, index).collect()
    }
    assert got[5000] == (1.0, True)
    assert got[5010] == (0.0, False)
