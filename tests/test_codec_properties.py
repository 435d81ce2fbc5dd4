"""Hypothesis property fences for the remaining real codecs (the
GIF/LZW fence's method — tests/test_gif_decode.py — applied to PNG,
BMP, WAV and DEFLATE): encode/decode must be the identity for
ARBITRARY inputs, and the vectorized PNG unfilter must agree with an
independent textbook implementation on ARBITRARY filter assignments,
not just the encoder's y % 5 cycle. Pure driver-side tests — no
Spark session — so hypothesis can afford hundreds of examples. The
worker stages call these same module functions (shipped by value, see
tests/test_media_workers.py), so the fences cover the code workers run."""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_spark.operators.media import (
    _paeth,
    _unfilter_png,
    bmp_gray,
    build_bmp,
    build_png,
    build_wav,
    decode_bmp,
    decode_payload,
    png_gray,
)

# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    gray=st.binary(min_size=1, max_size=1500),
    width=st.integers(min_value=1, max_value=50),
)
def test_png_container_roundtrip_property(gray, width):
    """Any byte grid at ANY width (odd widths included — width 1 makes
    every filter's left neighbor the phantom zero) survives the
    encode/decode round trip with the trailing-partial-row contract.
    Heights > 4 exercise all five filter branches (encoder cycles
    y % 5)."""
    if len(gray) < width:
        gray = gray + b"\x00" * (width - len(gray))  # one full row
    w, h, out = png_gray(build_png(gray, width=width))
    assert (w, h) == (width, len(gray) // width)
    assert out == gray[: width * h]


def _unfilter_reference(raw: bytes, w: int, h: int) -> bytes:
    """Independent textbook PNG filter reconstruction (RFC 2083 §6 —
    plain per-byte Python, no numpy, no shared code with the
    implementation under test)."""
    stride = w + 1
    out = bytearray(w * h)
    for y in range(h):
        ft = raw[y * stride]
        line = raw[y * stride + 1 : (y + 1) * stride]
        for x in range(w):
            a = out[y * w + x - 1] if x else 0
            b = out[(y - 1) * w + x] if y else 0
            c = out[(y - 1) * w + x - 1] if (x and y) else 0
            if ft == 0:
                v = line[x]
            elif ft == 1:
                v = line[x] + a
            elif ft == 2:
                v = line[x] + b
            elif ft == 3:
                v = line[x] + (a + b) // 2
            elif ft == 4:
                v = line[x] + _paeth(a, b, c)
            else:
                raise ValueError(ft)
            out[y * w + x] = v & 0xFF
    return bytes(out)


@settings(max_examples=150, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=24),
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # filter type
            st.binary(min_size=24, max_size=24),  # row data (sliced)
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_png_unfilter_matches_textbook_on_arbitrary_filters(width, rows):
    """The vectorized unfilter (the round-8 sf1-plateau fix) must
    agree with a per-byte textbook implementation for ARBITRARY
    (filter type, data) row assignments — the encoder round trip only
    ever explores its own y % 5 cycle; this fence explores every
    filter in every row position, including Average/Paeth first rows
    (prev row all phantom zeros) and width-1 left-edge recurrences."""
    raw = b"".join(bytes([ft]) + data[:width] for ft, data in rows)
    h = len(rows)
    got = _unfilter_png(raw, width, h)
    assert isinstance(got, np.ndarray) and got.shape == (h, width)
    assert got.tobytes() == _unfilter_reference(raw, width, h)


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    gray=st.binary(min_size=1, max_size=1500),
    width=st.integers(min_value=1, max_value=60),
)
def test_bmp_container_roundtrip_property(gray, width):
    """Any grid at ANY width survives encode/decode: widths where
    width*3 % 4 is 0/1/2/3 all occur, so the 4-byte row padding and
    the bottom-up un-flip are both load-bearing. Gray pixels make the
    integer luma exact (1000v // 1000 == v)."""
    if len(gray) < width:
        gray = gray + b"\x00" * (width - len(gray))
    h = len(gray) // width
    kept = gray[: width * h]
    d = decode_bmp(build_bmp(gray, width=width))
    assert (d["width"], d["height"], d["n_pixels"]) == (width, h, width * h)
    assert d["luma_sum"] == sum(kept)
    assert d["luma_md5"] == hashlib.md5(kept).hexdigest()


@settings(max_examples=60, deadline=None)
@given(
    gray=st.binary(min_size=8, max_size=600),
    width=st.integers(min_value=1, max_value=20),
)
def test_bmp_top_down_variant_decodes_identically(gray, width):
    """A negative-biHeight (top-down) rewrite of the same image must
    decode to the identical luma grid — the orientation branch cannot
    change pixel values, only un-flip order."""
    if len(gray) < width:
        gray = gray + b"\x00" * (width - len(gray))
    payload = build_bmp(gray, width=width)
    h = len(gray) // width
    row_size = (width * 3 + 3) & ~3
    offset = 14 + 40
    # rewrite: biHeight -> -h, rows reversed into top-down order
    hdr = bytearray(payload[:offset])
    struct.pack_into("<i", hdr, 14 + 8, -h)
    body = payload[offset:]
    rows = [body[y * row_size : (y + 1) * row_size] for y in range(h)]
    flipped = bytes(hdr) + b"".join(reversed(rows))
    assert decode_bmp(flipped) == decode_bmp(payload)


@settings(max_examples=100, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=20),
    height=st.integers(min_value=1, max_value=12),
    top_down=st.booleans(),
    data=st.data(),
)
def test_bmp_color_luma_matches_per_pixel_reference(width, height, top_down, data):
    """The vectorized BMP decode must equal a per-pixel textbook loop on
    ARBITRARY BGR bytes (colour pixels, junk in the row padding, either
    orientation) — the gray-fixture round trips above only ever see
    B == G == R, where the luma weights cancel out."""
    row_size = (width * 3 + 3) & ~3
    body = data.draw(
        st.binary(min_size=row_size * height, max_size=row_size * height)
    )
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, -height if top_down else height,
            1, 24, 0, len(body), 2835, 2835, 0, 0,
        )
        + body
    )
    want = bytearray(width * height)
    for out_y in range(height):
        src_y = out_y if top_down else height - 1 - out_y
        row = body[src_y * row_size : src_y * row_size + width * 3]
        for x in range(width):
            b, g, r = row[3 * x], row[3 * x + 1], row[3 * x + 2]
            want[out_y * width + x] = (299 * r + 587 * g + 114 * b) // 1000
    assert bmp_gray(payload) == (width, height, bytes(want))


# --------------------------------------------------------------------------
# WAV
# --------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(pcm=st.binary(min_size=1, max_size=2000))
def test_wav_container_roundtrip_property(pcm):
    """Any PCM byte string survives the stdlib-wave encode → container
    decode round trip with exact sample count, checksum, and mean."""
    d = decode_payload(build_wav(pcm))
    assert d["mime"] == "audio/wav"
    assert (d["n_channels"], d["sample_width"]) == (1, 1)
    assert d["n_samples"] == len(pcm)
    assert d["pcm_md5"] == hashlib.md5(pcm).hexdigest()
    assert d["mean_sample"] == sum(pcm) / len(pcm)
    # independent parse: the stdlib reader recovers the exact bytes
    with wave.open(io.BytesIO(build_wav(pcm)), "rb") as w:
        assert w.readframes(w.getnframes()) == pcm


# --------------------------------------------------------------------------
# DEFLATE
# --------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(data=st.binary(max_size=4000))
def test_deflate_roundtrip_property(data):
    """Any byte string survives compress → sniff → inflate with exact
    length and checksum (the zlib branch of decode_payload)."""
    d = decode_payload(zlib.compress(data))
    assert d["mime"] == "application/zlib"
    assert d["decoded_bytes"] == len(data)
    assert d["decoded_md5"] == hashlib.md5(data).hexdigest()


@settings(max_examples=150, deadline=None)
@given(tail=st.binary(max_size=64))
def test_deflate_sniff_false_positive_falls_back(tail):
    """A payload that merely STARTS with the zlib magic byte pair but
    is not a valid stream must fall back to opaque bytes, never raise
    — the documented sniff-false-positive contract."""
    payload = b"\x78\x9c" + tail
    try:
        zlib.decompress(payload)
        return  # hypothesis found a genuinely valid stream — fine
    except zlib.error:
        pass
    d = decode_payload(payload)
    assert d["mime"] == "application/octet-stream"
    assert d["n_bytes"] == len(payload)
