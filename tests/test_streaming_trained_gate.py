"""The at-ingest trained-model gate must score a drained stream
bit-identically to the batch scoring pass with the same frozen
weights, add zero streaming state, and pin the NULL-text verdict."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_spark.io import load
from etl_spark.plans.ml_train import _train
from etl_spark.streaming.sinks import drain
from etl_spark.streaming.trained_gate import score_documents
from tests.conftest import SF_DIR

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def test_streamed_gate_matches_batch_scoring(spark, tmp_path):
    hist, _feats, _n = _train(spark, SF_DIR)
    weights = hist[-1]

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    # calibrate the gate at the ~90th percentile of the batch scores
    # (the quantile-cut deployment shape): threshold in zraw-per-dl
    # lattice units, exact integer compare on both paths
    zs = sorted(
        r["zraw"] * 1.0 / r["dl"]
        for r in score_documents(docs, weights).collect()
        if r["zraw"] is not None
    )
    threshold = int(zs[int(len(zs) * 0.9)])
    pdf = docs.toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(range(0, len(pdf), 120)):
        rows = pdf.iloc[chunk : chunk + 120]
        with open(src / f"b{i:04d}.json", "w") as f:
            for _, r in rows.iterrows():
                f.write(
                    json.dumps(
                        {"doc_id": int(r.doc_id), "text": r.text}
                    )
                    + "\n"
                )

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .json(str(src))
    )
    query = drain(
        score_documents(stream, weights, threshold), "trained_gate_test", "append"
    )
    try:
        got = {
            r["doc_id"]: (r["dl"], r["zraw"], r["gated_positive"])
            for r in spark.sql("SELECT * FROM trained_gate_test").collect()
        }
        # stateless stage: the progress metrics must show NO state op
        for p in query.recentProgress:
            assert not p["stateOperators"], "gate must be stateless"
    finally:
        query.stop()

    want = {
        r["doc_id"]: (r["dl"], r["zraw"], r["gated_positive"])
        for r in score_documents(docs, weights, threshold).collect()
    }
    assert got == want
    assert len(want) == len(pdf)
    # non-vacuous: the model must actually split the corpus
    verdicts = {v[2] for v in want.values()}
    assert verdicts == {True, False}


def test_gate_pins_null_text_verdict(spark):
    hist, _feats, _n = _train(spark, SF_DIR)
    docs = spark.createDataFrame(
        [(1, "key agg row"), (2, None)], DOC_SCHEMA
    )
    rows = {r["doc_id"]: r for r in score_documents(docs, hist[-1]).collect()}
    assert rows[2]["zraw"] is None
    assert rows[2]["dl"] is None  # NULL, not the legacy -1 sentinel
    assert rows[2]["gated_positive"] is False  # pinned, never NULL
    assert rows[1]["zraw"] is not None
    assert rows[1]["dl"] == 3
