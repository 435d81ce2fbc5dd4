"""Streaming perceptual-hash dup gate: the stream-static band join
must produce row-for-row the same per-doc verdicts as the batch
recompute over the same arriving docs and the same static index, and
the gate must flag a noisy re-encode of historical content that exact
hashing (and md5 dedup) cannot see."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_spark.io import load
from etl_spark.plans.multimodal import PHASH_HAM_MAX, _ASCII_DOCS
from etl_spark.streaming.phash_gate import (
    DOC_SCHEMA,
    PHASH_GATE_MOD,
    history_phash_index,
    phash_gate,
    phash_gate_stream,
)
from etl_spark.streaming.sinks import drain
from tests.conftest import SF_DIR


def _arriving(spark):
    return (
        load(spark, SF_DIR, "documents")
        .where(_ASCII_DOCS)
        .where(F.length("text") >= 60)
        .filter(F.col("doc_id") % PHASH_GATE_MOD == 0)
        .select("doc_id", "text")
    )


def test_stream_matches_batch_phash_gate(spark, tmp_path):
    pdf = _arriving(spark).toPandas()
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

    index = history_phash_index(spark, SF_DIR)
    doc_stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .json(str(src))
    )
    q = drain(phash_gate_stream(doc_stream, index), "phash_gate_stream", "update")
    try:
        got = {
            r["doc_id"]: (r["min_hamming"], r["nearest_hist_id"], r["likely_dup"])
            for r in spark.sql("SELECT * FROM phash_gate_stream").collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS phash_gate_stream")

    expected = {
        r["doc_id"]: (r["min_hamming"], r["nearest_hist_id"], r["likely_dup"])
        for r in phash_gate(_arriving(spark), index).collect()
    }
    assert got == expected
    assert len(got) == len(pdf)  # no-candidate docs still emitted


def test_gate_flags_noisy_reencode_and_admits_novel(spark, tmp_path):
    words = "kappa lambda sigma omega theta zeta".split()
    template = " ".join(words * 4)  # > 60 chars, ASCII
    assert len(template) >= 60
    # The deterministic re-encode noise the fingerprint is built to
    # survive: +1 on every 17th byte (0-based, matching the numpy
    # stride in operators/media.py).
    noisy = "".join(
        chr(ord(c) + 1) if i % 17 == 0 else c for i, c in enumerate(template)
    )
    assert noisy != template  # md5/exact dedup is blind to nothing here
    novel = "completely different unrelated content " * 3
    sf_dir = str(tmp_path)
    hist_rows = [(11, template), (21, template)]  # % 10 != 0; exact dups
    spark.createDataFrame(
        hist_rows, ["doc_id", "text"]
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    index = history_phash_index(spark, sf_dir)
    arriving = spark.createDataFrame(
        [(100, noisy), (200, novel)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r for r in phash_gate(arriving, index).collect()
    }
    assert got[100]["likely_dup"]
    assert got[100]["min_hamming"] <= PHASH_HAM_MAX
    assert got[100]["nearest_hist_id"] == 11  # exact dups collapsed to min
    assert not got[200]["likely_dup"]
    mh = got[200]["min_hamming"]
    assert mh is None or mh > PHASH_HAM_MAX
