"""Worker-side fences for operators/media.py: every mapInPandas stage
runs the module's own codecs, shipped by value with the closure.

* The stage closures must run where ``etl_spark`` cannot be imported,
  as on an executor whose driver started from another cwd. The suite
  runs from the repository root, where a Spark worker CAN import
  ``etl_spark``, so a closure that pickles a codec by reference would
  pass every Spark test here and break anywhere else. The isolation
  test therefore pickles each closure with pyspark's cloudpickle and
  runs it in ``python -I`` from an empty directory, with no Spark.
* A corrupt container must fail the Spark job with the driver
  decoder's own error, not decode silently on the workers."""

from __future__ import annotations

import pickle
import subprocess
import sys
import zlib

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.errors import PythonException

from etl_spark.operators.media import (
    BMP_WIDTH,
    audio_autocorr,
    build_bmp,
    build_gif,
    build_png,
    build_wav,
    decode_audio,
    decode_deflate,
    decode_image,
    extract_features,
    frame_audio_energy,
    perceptual_hash,
    thumbnail_features,
    with_bmp_payload,
    with_deflate_payload,
    with_gif_payload,
    with_png_payload,
    with_wav_payload,
)

_TEXTS = [
    "pack my box with five dozen liquor jugs 0123456789 " * 4,
    "the quick brown fox jumps over the lazy dog " * 3,
    "zebra quartz jackdaws love my big sphinx " * 5,
]
_IDS = [3, 1, 2]

# Run each pickled stage on its batch with etl_spark unimportable:
# -I drops the cwd and PYTHONPATH from sys.path, and the None entry
# makes any import of etl_spark raise ModuleNotFoundError even if it
# were installed.
_ISOLATED_RUNNER = """
import pickle, sys
sys.modules["etl_spark"] = None
import pandas as pd
with open("stages.pkl", "rb") as f:
    stages = pickle.load(f)
out = {name: pd.concat(list(fn(iter([pdf]))), ignore_index=True)
       for name, (fn, pdf) in stages.items()}
with open("out.pkl", "wb") as f:
    pickle.dump(out, f)
"""


def _text_batch() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": _IDS, "text": _TEXTS})


def _payload_batch(encode) -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": _IDS, "payload": [encode(t.encode()) for t in _TEXTS]}
    )


def _raster_batch(encoders=(build_bmp, build_png, build_gif)) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": _IDS,
            "payload": [enc(t.encode()) for enc, t in zip(encoders, _TEXTS)],
        }
    )


def test_stage_closures_run_without_etl_spark(spark, tmp_path, monkeypatch):
    captured = []
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    original = frame_cls.mapInPandas

    def recording(self, func, schema, *args, **kwargs):
        captured.append(func)
        return original(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", recording)

    wavs = _payload_batch(build_wav)
    rasters = _raster_batch()
    deflated = _payload_batch(zlib.compress)
    deflated.loc[0, "payload"] = b"\x78\x9c not a stream"  # sniff false positive
    cases = {
        "with_deflate_payload": (with_deflate_payload, _text_batch()),
        "with_wav_payload": (with_wav_payload, _text_batch()),
        "with_bmp_payload": (with_bmp_payload, _text_batch()),
        "with_png_payload": (with_png_payload, _text_batch()),
        "with_gif_payload": (with_gif_payload, _text_batch()),
        "extract_features": (extract_features, wavs),
        "decode_audio": (decode_audio, wavs),
        "frame_audio_energy": (frame_audio_energy, wavs),
        "audio_autocorr": (audio_autocorr, wavs),
        "decode_deflate": (decode_deflate, deflated),
        "decode_image": (decode_image, rasters),
        "thumbnail_features": (
            thumbnail_features, _raster_batch((build_bmp, build_png, build_png))
        ),
        "perceptual_hash": (
            lambda df: perceptual_hash(df, noisy_variant=True, pixel_decode=True),
            rasters,
        ),
    }
    stages, want = {}, {}
    for name, (stage, pdf) in cases.items():
        captured.clear()
        stage(spark.createDataFrame(pdf))
        assert len(captured) == 1, name
        fn = captured[0]
        stages[name] = (fn, pdf)
        want[name] = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
        assert len(want[name]), name

    (tmp_path / "stages.pkl").write_bytes(cloudpickle.dumps(stages))
    run = subprocess.run(
        [sys.executable, "-I", "-c", _ISOLATED_RUNNER],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode == 0, run.stderr
    got = pickle.loads((tmp_path / "out.pkl").read_bytes())
    for name in cases:
        pd.testing.assert_frame_equal(got[name], want[name], obj=name)


def _flip_ihdr_crc(png: bytes) -> bytes:
    return png[:29] + bytes(b ^ 0xFF for b in png[29:33]) + png[33:]


def _break_gray_palette(gif: bytes) -> bytes:
    i = 13 + 3 * 7 + 1  # one palette green byte
    return gif[:i] + bytes([gif[i] ^ 0xFF]) + gif[i + 1 :]


@pytest.mark.parametrize(
    "payload, error",
    [
        (_flip_ihdr_crc(build_png(_TEXTS[0].encode())), "CRC mismatch"),
        (_break_gray_palette(build_gif(b"a" * BMP_WIDTH * 2)), "gray-identity"),
    ],
    ids=["png-ihdr-crc", "gif-palette"],
)
def test_corrupt_container_fails_on_workers(spark, payload, error):
    df = spark.createDataFrame([(1, payload)], "doc_id bigint, payload binary")
    with pytest.raises(PythonException, match=error):
        decode_image(df).collect()
