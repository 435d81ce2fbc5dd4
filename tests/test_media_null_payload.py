"""NULL-payload rule for every payload stage in operators/media.py: a
row whose payload is NULL has nothing to decode and is skipped, while
the rows of its batch that do carry a payload come out as usual. Each
case runs one stage on a frame with one valid payload (doc 1) and one
NULL payload (doc 2)."""

from __future__ import annotations

import zlib

import pytest

from etl_spark.operators.media import (
    audio_autocorr,
    build_bmp,
    build_png,
    build_wav,
    decode_audio,
    decode_deflate,
    decode_image,
    extract_features,
    frame_audio_energy,
    perceptual_hash,
    resize_payload,
    sample_frames,
    thumbnail_features,
)

_TEXT = ("the quick brown fox jumps over the lazy dog " * 6).encode()

_CASES = {
    "extract_features": (extract_features, _TEXT),
    "sample_frames": (sample_frames, _TEXT),
    "resize_payload": (resize_payload, _TEXT),
    "decode_audio": (decode_audio, build_wav(_TEXT)),
    "decode_deflate": (decode_deflate, zlib.compress(_TEXT)),
    "frame_audio_energy": (frame_audio_energy, build_wav(_TEXT)),
    "decode_image": (decode_image, build_png(_TEXT)),
    "thumbnail_features": (thumbnail_features, build_bmp(_TEXT)),
    "perceptual_hash": (perceptual_hash, _TEXT),
    "audio_autocorr": (audio_autocorr, build_wav(_TEXT)),
}


@pytest.mark.parametrize("name", list(_CASES))
def test_null_payload_row_is_skipped(spark, name):
    stage, payload = _CASES[name]
    df = spark.createDataFrame(
        [(1, payload), (2, None)], "doc_id bigint, payload binary"
    ).coalesce(1)
    ids = [r["doc_id"] for r in stage(df).collect()]
    assert ids and set(ids) == {1}, (name, ids)
