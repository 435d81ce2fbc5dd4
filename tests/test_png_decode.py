"""Stdlib PNG codec fences — the compressed-raster sibling of
tests/test_bmp_decode.py: the encoder must emit a genuinely parseable
8-bit grayscale PNG (signature, IHDR geometry, valid CRCs, one zlib
IDAT) with every filter type (None/Sub/Up/Average/Paeth) load-bearing,
the decoder must reconstruct the exact pixel grid, corruption under a
true magic must fail LOUDLY (CRC check), valid-but-unsupported shapes
must fall back rather than crash (the BMP lesson), the Spark stages
(which run the same module codecs on the workers) must byte-match the
driver-side functions, and the pixel-decode fingerprint must be
container-blind: the SAME image as a
BMP and as a PNG must fingerprint identically."""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import functions as F

from etl_spark.operators.media import (
    BMP_WIDTH,
    build_bmp,
    build_png,
    decode_payload,
    decode_png,
    decode_image,
    perceptual_hash,
    png_gray,
    sniff_mime,
    with_bmp_payload,
    with_png_payload,
)
from etl_spark.io import load
from tests.conftest import SF_DIR

# >= 7 full rows: filters y % 5 cycle through all five types and the
# Up/Average/Paeth rows see non-zero predecessors more than once.
_TEXT = ("pack my box with five dozen liquor jugs 0123456789 " * 6).encode()


def test_png_container_is_a_real_png():
    png = build_png(_TEXT)
    h = len(_TEXT) // BMP_WIDTH
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    # Independent chunk walk, not via png_gray.
    pos, chunks, idat = 8, [], b""
    while pos < len(png):
        ln, tag = struct.unpack_from(">I4s", png, pos)
        data = png[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", png, pos + 8 + ln)
        assert crc == zlib.crc32(tag + data), tag
        chunks.append(tag)
        if tag == b"IDAT":
            idat += data
        pos += 12 + ln
    assert chunks == [b"IHDR", b"IDAT", b"IEND"]
    w_, h_, depth, ctype, comp, fm, il = struct.unpack(
        ">IIBBBBB", png[16:29]
    )
    assert (w_, h_) == (BMP_WIDTH, h)
    assert (depth, ctype, comp, fm, il) == (8, 0, 0, 0, 0)
    raw = zlib.decompress(idat)
    assert len(raw) == (BMP_WIDTH + 1) * h
    # Row y carries filter type y % 5 — every branch is load-bearing.
    assert [raw[y * (BMP_WIDTH + 1)] for y in range(h)] == [
        y % 5 for y in range(h)
    ]


def test_png_round_trip_all_filters_and_dispatch():
    png = build_png(_TEXT)
    n = (len(_TEXT) // BMP_WIDTH) * BMP_WIDTH
    w, h, gray = png_gray(png)
    assert (w, h) == (BMP_WIDTH, len(_TEXT) // BMP_WIDTH)
    assert gray == _TEXT[:n]  # trailing partial row dropped
    assert sniff_mime(png) == "image/png"
    out = decode_png(png)
    assert out == {
        "mime": "image/png",
        "width": BMP_WIDTH,
        "height": h,
        "bpp": 8,
        "n_pixels": n,
        "luma_sum": sum(_TEXT[:n]),
        "luma_md5": hashlib.md5(_TEXT[:n]).hexdigest(),
    }
    assert decode_payload(png) == out
    # Adversarial grids: constant, ramp, and high-byte rows stress
    # the Average floor-div and Paeth tie-breaks.
    for grid in (
        bytes(BMP_WIDTH * 5),
        bytes(range(256))[: BMP_WIDTH * 6],
        bytes(255 - (i % 256) for i in range(BMP_WIDTH * 9)),
    ):
        _, _, back = png_gray(build_png(grid))
        assert back == grid[: (len(grid) // BMP_WIDTH) * BMP_WIDTH]


def test_png_crc_corruption_fails_loudly():
    png = bytearray(build_png(_TEXT))
    # Flip one byte inside the IDAT payload (after the 8-byte sig +
    # 25-byte IHDR chunk + 8-byte IDAT length/tag).
    png[8 + 25 + 8 + 4] ^= 0xFF
    try:
        png_gray(bytes(png))
        raise AssertionError("corrupt IDAT must not decode silently")
    except ValueError as e:
        assert "CRC" in str(e)


def test_unsupported_png_falls_back_to_byte_math_not_crash():
    """A VALID PNG whose shape decode_png does not parse (16-bit
    depth, RGB color, Adam7 interlace) must sniff as octet-stream and
    decode via fake_features — sniff and decoder agree on supported
    shapes (the BMP lesson, applied on day one here)."""

    def make(depth: int, ctype: int, interlace: int) -> bytes:
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, ctype, 0, 0, interlace)
        bpp = max(1, depth // 8) * (3 if ctype == 2 else 1)
        raw = b"\x00" + b"\x00" * bpp  # one filtered 1-px row
        out = b"\x89PNG\r\n\x1a\n"
        for tag, data in (
            (b"IHDR", ihdr),
            (b"IDAT", zlib.compress(raw)),
            (b"IEND", b""),
        ):
            out += (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data))
            )
        return out

    for depth, ctype, il in ((16, 0, 0), (8, 2, 0), (8, 0, 1)):
        payload = make(depth, ctype, il)
        assert sniff_mime(payload) == "application/octet-stream"
        out = decode_payload(payload)  # must not raise
        assert out["mime"] == "application/octet-stream"
    # And the supported shape still sniffs and decodes as PNG.
    good = make(8, 0, 0)
    assert sniff_mime(good) == "image/png"
    assert decode_payload(good)["mime"] == "image/png"


def test_worker_stages_match_driver_codec(spark):
    docs = (
        load(spark, SF_DIR, "documents")
        .where(F.length("text") >= BMP_WIDTH)
        .where("octet_length(encode(text, 'utf-8')) = length(text)")
        .limit(50)
    )
    local = {
        r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()
    }
    built = {
        r["doc_id"]: bytes(r["payload"])
        for r in with_png_payload(docs).collect()
    }
    assert built.keys() == local.keys()
    for doc_id, text in local.items():
        assert built[doc_id] == build_png(text.encode("utf-8")), doc_id
    decoded = {r["doc_id"]: r.asDict() for r in
               decode_image(with_png_payload(docs)).collect()}
    for doc_id, text in local.items():
        want = decode_png(build_png(text.encode("utf-8")))
        got = decoded[doc_id]
        for k, v in want.items():
            assert got[k] == v, (doc_id, k)


def test_pixel_phash_is_container_blind(spark):
    """The SAME image serialized as 24-bit BMP and as filtered+zlib
    PNG: pixel fingerprints identical (decode normalizes the container
    away), raw byte fingerprints differ (containers leak)."""
    texts = [
        ("a" * 30 + "the quick brown fox " * 8)[: 24 * 7],
        ("zebra quartz jackdaws love my big sphinx " * 5)[: 24 * 6],
    ]
    rows = []
    for i, t in enumerate(texts):
        rows.append((2 * i, build_bmp(t.encode())))
        rows.append((2 * i + 1, build_png(t.encode())))
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    px = {r["doc_id"]: r["phash"]
          for r in perceptual_hash(df, pixel_decode=True).collect()}
    raw = {r["doc_id"]: r["phash"]
           for r in perceptual_hash(df, pixel_decode=False).collect()}
    for i in range(len(texts)):
        assert px[2 * i] == px[2 * i + 1], (
            "pixel phash must not see the container"
        )
        assert raw[2 * i] != raw[2 * i + 1], (
            "byte phash SHOULD differ across containers — if not, the "
            "container-blindness assertion above is vacuous"
        )


def test_decode_image_mixed_containers_one_batch(spark):
    """decode_image dispatches per payload on magic bytes — a batch
    mixing BMP and PNG rows decodes both, with per-row mime."""
    t = ("mixed container batch fence 0123456789 " * 4).encode()
    n = (len(t) // BMP_WIDTH) * BMP_WIDTH
    df = spark.createDataFrame(
        [(1, build_bmp(t)), (2, build_png(t))],
        "doc_id bigint, payload binary",
    )
    got = {r["doc_id"]: r.asDict() for r in decode_image(df).collect()}
    assert got[1]["mime"] == "image/bmp" and got[1]["bpp"] == 24
    assert got[2]["mime"] == "image/png" and got[2]["bpp"] == 8
    for d in (1, 2):
        assert got[d]["n_pixels"] == n
        assert got[d]["luma_sum"] == sum(t[:n])
        assert got[d]["luma_md5"] == hashlib.md5(t[:n]).hexdigest()
