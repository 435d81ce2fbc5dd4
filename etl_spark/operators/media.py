"""Arrow-batched multimodal decode / feature-extract plumbing.

Rich pipelines decode image/audio/video payloads with native libs
(PIL, ffmpeg, torchaudio). Those libs are NOT in this container, but
the stdlib can genuinely parse three formats — ``wave`` (RIFF/WAVE
PCM audio), ``zlib`` (DEFLATE), and uncompressed 24-bit BMP (pure
``struct`` header walk + bottom-up padded pixel rows; no imaging lib
needed) — so ``decode_payload`` genuinely decodes those container
formats, dispatched on magic bytes, and falls back to
``fake_features`` (a deterministic byte-math stand-in with the same
Spark surface) for everything else. A user with PIL/ffmpeg adds their
branch to the same dispatch; the Arrow batching, 1:N frame shape and
no-payload-shuffle plumbing are format-independent.

Scale notes: this is a narrow map (no shuffle); batch size is governed
by spark.sql.execution.arrow.maxRecordsPerBatch, and the iterator form
of mapInPandas keeps peak memory to one batch per core regardless of
partition size — the shape that survives 100 TB of payload bytes.

Each codec exists once, as a module function. The ten payload stages
(extract_features ... audio_autocorr) share one stage skeleton,
``_payload_stage``: each stage is a per-payload row function, and the
skeleton does the select, the Arrow batch loop and the typed output
frame. A row whose payload is NULL has nothing to decode and is
skipped in every stage; an empty payload b"" is decoded normally. The
workers call the same codec functions as the driver (the module is
registered for by-value pickling below), so the driver-side property
tests cover exactly the code the workers run.
"""

from __future__ import annotations

import hashlib
import io
import struct
import sys
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The worker stages below call this module's own codecs (build_png,
# raster_gray, pcm_mean, ...). cloudpickle ships a module-level function
# by reference, and a worker resolves that reference by importing
# etl_spark, which fails when the driver runs from another cwd.
# Registering the module ships its functions by value with the closure.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, n_frames int, frame_signature string, "
    "mean_byte double"
)

WAV_SAMPLE_RATE = 8000


def build_wav(pcm: bytes) -> bytes:
    """Wrap raw bytes as a REAL RIFF/WAVE container: 8-bit unsigned
    mono PCM at 8 kHz, written by the stdlib ``wave`` encoder (so the
    header, chunk layout and sizes are a genuine WAV file any player
    parses)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(pcm)
    return buf.getvalue()


def sniff_mime(payload: bytes) -> str:
    """Magic-byte container sniff (the dispatch key for decode)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "audio/wav"
    # BMP: 'BM' is a weak magic (any text starting "BM" matches), so
    # require the full header story to hold — declared file size ==
    # actual, pixel offset past both headers, BITMAPINFOHEADER (40),
    # AND the shape decode_bmp actually parses (24 bpp, BI_RGB
    # uncompressed) — before claiming the payload is an image. The
    # sniff and the decoder must agree: a valid-but-unsupported BMP
    # (32 bpp, RLE) must fall to the byte-math path, not crash decode.
    if (
        len(payload) >= 54
        and payload[:2] == b"BM"
        and struct.unpack_from("<I", payload, 2)[0] == len(payload)
        and struct.unpack_from("<I", payload, 10)[0] >= 54
        and struct.unpack_from("<I", payload, 14)[0] == 40
        and struct.unpack_from("<H", payload, 28)[0] == 24
        and struct.unpack_from("<I", payload, 30)[0] == 0
    ):
        return "image/bmp"
    # zlib has a 2-byte header, not a true magic: CMF low nibble 0x8
    # (compression method 8 = deflate; the high nibble is the window
    # size, 0x08..0x78 all valid — streams written with wbits < 15
    # are still zlib) then a check byte making the pair a multiple of
    # 31. Heuristic — the decode branch therefore verifies by
    # actually inflating and falls back on zlib.error rather than
    # trusting the sniff.
    # PNG: 8-byte signature is a true magic; additionally require the
    # shape decode_png parses (IHDR first chunk, 8-bit grayscale,
    # deflate, filter method 0, non-interlaced) — sniff and decoder
    # must agree on supported shapes (the BMP lesson): a valid-but-
    # unsupported PNG (16-bit, RGBA, Adam7) falls to byte-math.
    if (
        len(payload) >= 33
        and payload[:8] == b"\x89PNG\r\n\x1a\n"
        and payload[8:16] == b"\x00\x00\x00\x0dIHDR"
        and payload[24:29] == bytes((8, 0, 0, 0, 0))
    ):
        return "image/png"
    if len(payload) >= 2 and (payload[0] & 0x0F) == 0x08 and (
        payload[0] >> 4
    ) <= 7 and ((payload[0] << 8 | payload[1]) % 31 == 0):
        return "application/zlib"
    return "application/octet-stream"


def pcm_mean(pcm: bytes, sample_width: int) -> float:
    """Mean of the DECODED samples (all channels pooled) for PCM of
    any width — averaging raw frame bytes is only correct for 8-bit
    audio; 16/24/32-bit samples are little-endian signed, so the byte
    mean of interleaved halves is meaningless for them."""
    if not pcm:
        return 0.0
    if sample_width == 1:
        return sum(pcm) / len(pcm)  # 8-bit WAV PCM is unsigned
    n = len(pcm) // sample_width
    if sample_width == 2:
        vals = struct.unpack(f"<{n}h", pcm[: n * 2])
    elif sample_width == 4:
        vals = struct.unpack(f"<{n}i", pcm[: n * 4])
    else:  # 24-bit: no struct code; decode 3-byte groups signed
        vals = [
            int.from_bytes(pcm[i : i + 3], "little", signed=True)
            for i in range(0, n * 3, 3)
        ]
    return sum(vals) / n


def wav_pcm(payload: bytes) -> tuple:
    """Parse a RIFF/WAVE container with the stdlib ``wave`` codec:
    (``wave`` params namedtuple, PCM frame bytes). A malformed
    container raises ``wave.Error``."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        return w.getparams(), w.readframes(w.getnframes())


def decode_wav(payload: bytes) -> dict:
    """Decode summary for a WAV payload: header fields, the decoded
    sample mean (``pcm_mean``) and the md5 of the PCM bytes."""
    params, pcm = wav_pcm(payload)
    return {
        "mime": "audio/wav",
        "n_channels": params.nchannels,
        "sample_rate": params.framerate,
        "sample_width": params.sampwidth,
        "n_samples": params.nframes,
        "mean_sample": pcm_mean(pcm, params.sampwidth),
        "pcm_md5": hashlib.md5(pcm).hexdigest(),
    }


def decode_payload(payload: bytes) -> dict:
    """Decode a media payload: REAL codec where the stdlib has one
    (WAV via ``wave``, DEFLATE via ``zlib``), deterministic byte-math
    stand-in otherwise. Returns a tagged dict; a corrupt payload that
    carries a true container magic (RIFF/WAVE) fails LOUDLY — silent
    fallback would mislabel broken audio as opaque bytes."""
    payload = bytes(payload)
    mime = sniff_mime(payload)
    if mime == "audio/wav":
        return decode_wav(payload)
    if mime == "image/bmp":
        return decode_bmp(payload)
    if mime == "image/png":
        return decode_png(payload)
    if mime == "application/zlib":
        try:
            raw = zlib.decompress(payload)
        except zlib.error:
            pass  # sniff false-positive (no real magic) — treat as bytes
        else:
            return {
                "mime": mime,
                "decoded_bytes": len(raw),
                "decoded_md5": hashlib.md5(raw).hexdigest(),
            }
    n_bytes, n_frames, signature, mean_byte = fake_features(payload)
    return {
        "mime": "application/octet-stream",
        "n_bytes": n_bytes,
        "n_frames": n_frames,
        "frame_signature": signature,
        "mean_byte": mean_byte,
    }


def fake_features(payload: bytes) -> tuple[int, int, str, float]:
    """Deterministic stand-in for decode+feature-extract.

    'Frames' are 256-byte chunks; the signature is the md5 of every
    64th byte; mean_byte is an exact integer-ratio double.
    """
    n_bytes = len(payload)
    n_frames = n_bytes // 256 + 1
    sampled = payload[::64]
    signature = hashlib.md5(sampled).hexdigest()
    mean_byte = (sum(payload) / n_bytes) if n_bytes else 0.0
    return n_bytes, n_frames, signature, mean_byte


# Pandas dtype of each numeric Spark column type a stage emits; other
# columns (string, carried timestamps) keep the type pandas infers.
_PANDAS_DTYPES = {"bigint": "int64", "int": "int32", "double": "float64"}


def _columns(schema: str) -> list[str]:
    """Column names of a ``name type, ...`` schema string."""
    return [field.split()[0] for field in schema.split(",")]


def _payload_stage(
    df: DataFrame,
    schema: str,
    rows: Callable[[int, bytes], Iterable[tuple]],
    carry: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """The payload-stage skeleton: a narrow Arrow map that calls
    ``rows(doc_id, payload)`` for every row with a non-NULL payload
    and emits the tuples it yields as ``schema`` rows, each followed
    by the row's ``carry`` columns (``(name, type)`` pairs appended to
    the schema). A NULL payload is skipped before the map: there is
    nothing to decode, and ``bytes(None)`` would kill the task."""
    carried = [name for name, _ in carry]
    schema += "".join(f", {name} {typ}" for name, typ in carry)
    fields = [field.split() for field in schema.split(",")]
    names = [name for name, _ in fields]
    dtypes = {name: _PANDAS_DTYPES[t] for name, t in fields if t in _PANDAS_DTYPES}

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = [
                (*row, *extra)
                for doc_id, payload, *extra in zip(
                    pdf["doc_id"], pdf["payload"], *(pdf[c] for c in carried)
                )
                for row in rows(doc_id, bytes(payload))
            ]
            yield pd.DataFrame(out, columns=names).astype(dtypes)

    return (
        df.select("doc_id", "payload", *carried)
        .where(F.col("payload").isNotNull())
        .mapInPandas(batches, schema=schema)
    )


def extract_features(df: DataFrame) -> DataFrame:
    """documents-with-payload → per-doc feature rows
    (``fake_features``)."""
    return _payload_stage(
        df, FEATURE_SCHEMA, lambda doc_id, payload: [(doc_id, *fake_features(payload))]
    )


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach the deterministic binary payload + metadata struct."""
    return docs.withColumn("payload", F.encode("text", "utf-8")).withColumn(
        "meta",
        F.struct(
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
            F.col("lang").alias("lang"),
        ),
    )


FRAME_BYTES = 256
FRAME_SAMPLE_EVERY = 2

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes int, frame_md5 string"


def sample_frames(
    df: DataFrame,
    frame_bytes: int = FRAME_BYTES,
    every_n: int = FRAME_SAMPLE_EVERY,
) -> DataFrame:
    """Frame-sampling stage: split each payload into fixed-size frames
    (the stand-in for video frame extraction) and emit every
    ``every_n``-th frame as its own row — a 1:N mapInPandas whose
    output batch is LARGER than its input batch, the shape a video
    pipeline needs (decode libs absent; frames are byte chunks).

    Narrow map: the payload is framed where it sits, only the sampled
    frame rows continue downstream.
    """

    def rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
        for idx in range(0, len(payload) // frame_bytes + 1, every_n):
            frame = payload[idx * frame_bytes : (idx + 1) * frame_bytes]
            yield doc_id, idx, len(frame), hashlib.md5(frame).hexdigest()

    return _payload_stage(df, FRAME_SCHEMA, rows)


RESIZE_TARGET_BYTES = 512

RESIZE_SCHEMA = (
    "doc_id bigint, orig_bytes int, new_bytes int, resized_md5 string"
)


def resize_payload(
    df: DataFrame,
    target_bytes: int = RESIZE_TARGET_BYTES,
) -> DataFrame:
    """Resize stage (stand-in for image resize): truncate payloads over
    the target, zero-pad payloads under it — a deterministic 1:1
    transform with the exact batch shape a real resize has (binary in,
    binary-derived features out, constant output size)."""

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        resized = payload[:target_bytes].ljust(target_bytes, b"\x00")
        return [
            (doc_id, len(payload), target_bytes, hashlib.md5(resized).hexdigest())
        ]

    return _payload_stage(df, RESIZE_SCHEMA, rows)


WAV_DECODE_SCHEMA = (
    "doc_id bigint, mime string, n_channels int, sample_rate int, "
    "n_samples bigint, mean_sample double, pcm_md5 string"
)


def decode_audio(df: DataFrame) -> DataFrame:
    """REAL audio decode stage: payloads are genuine RIFF/WAVE
    containers (see ``build_wav``), parsed on the workers by the
    stdlib ``wave`` codec — header walk, fmt-chunk fields, PCM frame
    extraction. Narrow map, one container decoded per row, Arrow
    batch in/out; the exact stage shape a torchaudio-backed pipeline
    has, with a real (if humble) codec in the decode slot."""

    keys = _columns(WAV_DECODE_SCHEMA)[1:]

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        return [(doc_id, *map(decode_wav(payload).get, keys))]

    return _payload_stage(df, WAV_DECODE_SCHEMA, rows)


DEFLATE_DECODE_SCHEMA = (
    "doc_id bigint, mime string, decoded_bytes bigint, decoded_md5 string"
)


def decode_deflate(df: DataFrame) -> DataFrame:
    """REAL decompression decode stage: inflate zlib-DEFLATE payloads
    on the workers (stdlib zlib, sniffed by the same header check as
    ``sniff_mime``) and fingerprint the recovered bytes. Non-zlib
    payloads fall back to raw-byte fingerprinting, mirroring
    ``decode_payload``'s dispatch. Narrow map; payload never
    shuffles."""

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        raw, mime = payload, "application/octet-stream"
        if sniff_mime(payload) == "application/zlib":
            try:
                raw = zlib.decompress(payload)
                mime = "application/zlib"
            except zlib.error:
                pass  # sniff false positive: fingerprint raw bytes
        return [(doc_id, mime, len(raw), hashlib.md5(raw).hexdigest())]

    return _payload_stage(df, DEFLATE_DECODE_SCHEMA, rows)


def _with_payload(
    docs: DataFrame, src: str, spread: bool, encode: Callable[[bytes], bytes]
) -> DataFrame:
    """Fixture-builder skeleton: each non-NULL ``src`` text becomes
    the payload ``encode(text.encode("utf-8"))``, built in a narrow
    Arrow map next to its doc_id."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [encode(t.encode("utf-8")) for t in pdf[src]],
                }
            )

    out = docs.select("doc_id", src).where(F.col(src).isNotNull())
    if spread:
        # Single-file scans plateau decode parallelism (one parquet
        # file -> one input partition at bench SFs; SCALING.md's sf1
        # note). Spread the TEXT before payload construction so the
        # decode map runs on every core while payloads still never
        # cross an Exchange.
        out = out.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return out.mapInPandas(batches, schema="doc_id bigint, payload binary")


def with_deflate_payload(docs: DataFrame, src: str = "text", spread: bool = True) -> DataFrame:
    """Fixture builder: attach a zlib-DEFLATE-compressed payload of
    the document's utf-8 bytes (stdlib zlib encoder, default level —
    a genuine compressed stream, not byte math)."""
    return _with_payload(docs, src, spread, zlib.compress)


def with_wav_payload(docs: DataFrame, pcm_from: str = "text", spread: bool = True) -> DataFrame:
    """Fixture builder: attach a real WAV container whose 8-bit mono
    PCM samples are the document's utf-8 bytes (deterministic, so the
    decoded features replay in SQL from the text). Container bytes are
    assembled by the stdlib ``wave`` ENCODER (``build_wav``) inside the
    batch — the payload column carries genuine WAV files, not byte
    math."""
    return _with_payload(docs, pcm_from, spread, build_wav)


def _centered_pcm8(payload: bytes, stage: str) -> np.ndarray:
    """The centered samples (byte - 128) of an 8-bit WAV payload. Loud,
    not wrong: treating 16/24/32-bit PCM bytes as samples would frame
    interleaved half-words into garbage energies (the BMP
    sniff/decode-agreement lesson applied here)."""
    params, pcm = wav_pcm(payload)
    if params.sampwidth != 1:
        raise ValueError(
            f"{stage} expects 8-bit PCM, got sample width {params.sampwidth}"
        )
    return np.frombuffer(pcm, dtype=np.uint8).astype(np.int64) - 128


# Analysis frame length for audio feature extraction: 160 samples =
# 20 ms at the 8 kHz fixture rate — the standard speech frame. The
# trailing partial frame is KEPT (real feature extractors emit it
# with its true length; energy normalizes by frame_n, not FRAME).
AUDIO_FRAME = 160


def frame_audio_energy(df: DataFrame) -> DataFrame:
    """Frame-level audio feature extraction: decode each WAV payload
    (stdlib ``wave``), split the 8-bit PCM into AUDIO_FRAME-sample
    analysis frames, and emit per-frame energy features — the stage a
    torchaudio/librosa pipeline runs between decode and model:

      frame_n   samples in the frame (trailing frame may be short)
      frame_sum sum of centered samples  (s - 128; 8-bit midpoint)
      frame_sq  sum of squared centered samples
      rms       sqrt(frame_sq / frame_n)

    frame_sum / frame_sq are EXACT integers so downstream thresholds
    (the voice-activity flag in mm_audio_frame_energy) can be integer
    cross-multiplies instead of float comparisons; rms is a single
    correctly-rounded divide + sqrt of those integers, bit-identical
    across engines. Narrow Arrow map; the payload never shuffles —
    only the 5-column feature rows continue. Per-frame math is a
    numpy reshape + einsum over the whole clip, not a Python loop
    per frame."""

    def rows(doc_id: int, payload: bytes) -> Iterable[tuple]:
        s = _centered_pcm8(payload, "frame_audio_energy")
        n = len(s)
        if n == 0:
            return ()
        n_frames = -(-n // AUDIO_FRAME)
        padded = np.zeros(n_frames * AUDIO_FRAME, dtype=np.int64)
        padded[:n] = s  # zero-pad: pads add 0 to sum and sq
        grid = padded.reshape(n_frames, AUDIO_FRAME)
        fn = [AUDIO_FRAME] * (n_frames - 1) + [n - (n_frames - 1) * AUDIO_FRAME]
        return zip(
            [doc_id] * n_frames,
            range(n_frames),
            fn,
            grid.sum(axis=1).tolist(),
            np.einsum("ij,ij->i", grid, grid).tolist(),
        )

    frames = _payload_stage(
        df,
        "doc_id bigint, frame_idx int, frame_n int, frame_sum bigint, frame_sq bigint",
        rows,
    )
    return frames.withColumn(
        "rms",
        F.sqrt(F.col("frame_sq").cast("double") / F.col("frame_n")),
    )


# ---------------------------------------------------------------------------
# BMP: REAL uncompressed 24-bit bitmap encode/parse, stdlib-only
# ---------------------------------------------------------------------------

# Fixture grid width (pixels per row). 24 keeps sf0.01 docs (~200-2000
# chars) at tens of rows — big enough to exercise multi-row bottom-up
# storage and per-row padding, small enough that the oracle's
# per-character replay stays cheap.
BMP_WIDTH = 24

BMP_DECODE_SCHEMA = (
    "doc_id bigint, mime string, width int, height int, bpp int, "
    "n_pixels bigint, luma_sum bigint, luma_md5 string"
)


def build_bmp(gray: bytes, width: int = BMP_WIDTH) -> bytes:
    """Encode a grayscale byte grid as a REAL uncompressed 24-bit BMP
    (BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER, BGR triplets,
    bottom-up row order, rows padded to 4 bytes) — any image viewer
    opens the result. Pixels are gray (B = G = R = byte value), rows
    are ``width`` wide, and a trailing partial row is dropped, so the
    image holds exactly ``(len(gray) // width) * width`` pixels."""
    height = len(gray) // width
    if height == 0:
        raise ValueError(
            f"need at least {width} gray bytes for one row, got {len(gray)}"
        )
    gray = gray[: width * height]
    row_pad = (-(width * 3)) % 4
    row_size = width * 3 + row_pad
    data_size = row_size * height
    offset = 14 + 40
    file_header = struct.pack(
        "<2sIHHI", b"BM", offset + data_size, 0, 0, offset
    )
    # biHeight > 0 = bottom-up (the standard orientation); 2835 px/m
    # = 72 DPI, the conventional placeholder resolution.
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size,
        2835, 2835, 0, 0,
    )
    pad = b"\x00" * row_pad
    rows = [
        b"".join(
            bytes((v, v, v)) for v in gray[y * width : (y + 1) * width]
        )
        + pad
        for y in range(height - 1, -1, -1)
    ]
    return file_header + info_header + b"".join(rows)


def bmp_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bit BMP: header walk, bottom-up (or
    top-down when biHeight < 0) row un-flip, padding strip, integer
    ITU-R 601 luma per pixel ((299R + 587G + 114B) // 1000 — exact
    integer math, equal to the byte value on gray pixels): (width,
    height, TOP-DOWN row-major luma bytes), the orientation a
    downstream vision model consumes. The rows decode as one
    (h, row_size) uint8 matrix, so the un-flip, padding strip and BGR
    dot product are array ops, not per-pixel Python. Fails LOUDLY on a
    malformed or unsupported container."""
    magic, file_size, _, _, offset = struct.unpack_from("<2sIHHI", payload, 0)
    (dib_size, width, height, _planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if magic != b"BM" or dib_size != 40:
        raise ValueError("not a BITMAPINFOHEADER BMP")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = height < 0
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    px = np.frombuffer(
        payload, dtype=np.uint8, count=height * row_size, offset=offset
    ).reshape(height, row_size)[:, : width * 3].reshape(height, width, 3)
    if not top_down:
        px = px[::-1]
    bgr = px.astype(np.int64)
    luma = (299 * bgr[:, :, 2] + 587 * bgr[:, :, 1] + 114 * bgr[:, :, 0]) // 1000
    return width, height, luma.astype(np.uint8).tobytes()


def _raster_summary(mime: str, bpp: int, w: int, h: int, gray: bytes) -> dict:
    """The decode summary every raster decoder returns (one row of
    BMP_DECODE_SCHEMA without doc_id)."""
    return {
        "mime": mime,
        "width": w,
        "height": h,
        "bpp": bpp,
        "n_pixels": w * h,
        "luma_sum": sum(gray),
        "luma_md5": hashlib.md5(gray).hexdigest(),
    }


def decode_bmp(payload: bytes) -> dict:
    """Decode summary for a 24-bit BMP (``bmp_gray``); ``luma_md5`` is
    over the top-down row-major luma bytes."""
    return _raster_summary("image/bmp", 24, *bmp_gray(payload))


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick the neighbor (left,
    up, up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def build_png(gray: bytes, width: int = BMP_WIDTH) -> bytes:
    """Encode a grayscale byte grid as a REAL PNG (signature, IHDR,
    one zlib IDAT, IEND, all CRCs) — 8-bit grayscale, top-down rows,
    trailing partial row dropped (the BMP fixture contract). Row y is
    filtered with type y % 5, so every decoder filter branch (None/
    Sub/Up/Average/Paeth) is load-bearing on every image taller than
    4 rows — a filter-reconstruction bug cannot hide."""
    height = len(gray) // width
    if height == 0:
        raise ValueError(
            f"need at least {width} gray bytes for one row, got {len(gray)}"
        )
    gray = gray[: width * height]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        row = gray[y * width : (y + 1) * width]
        ft = y % 5
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:  # Sub
            raw += bytes(
                (row[x] - (row[x - 1] if x else 0)) & 0xFF
                for x in range(width)
            )
        elif ft == 2:  # Up
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(width))
        elif ft == 3:  # Average
            raw += bytes(
                (row[x] - ((row[x - 1] if x else 0) + prev[x]) // 2) & 0xFF
                for x in range(width)
            )
        else:  # Paeth
            raw += bytes(
                (
                    row[x]
                    - _paeth(
                        row[x - 1] if x else 0,
                        prev[x],
                        prev[x - 1] if x else 0,
                    )
                )
                & 0xFF
                for x in range(width)
            )
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def png_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Chunk walk + zlib inflate + per-row filter reconstruction for
    an 8-bit grayscale non-interlaced PNG: (width, height, top-down
    row-major gray bytes). CRCs are verified — a corrupt payload that
    carries the true PNG magic fails LOUDLY, like the WAV branch."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    idat = b""
    w = h = None
    while pos + 8 <= len(payload):
        ln, tag = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if crc != zlib.crc32(tag + data):
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, fm, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype, comp, fm, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG: depth={depth} color={ctype} "
                    f"interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG without IHDR")
    raw = zlib.decompress(idat)
    stride = w + 1
    if len(raw) != stride * h:
        raise ValueError("PNG scanline data size mismatch")
    return w, h, _unfilter_png(raw, w, h).tobytes()


def _unfilter_png(raw: bytes, w: int, h: int) -> "np.ndarray":
    """PNG filter reconstruction, numpy-vectorized where the filter
    math allows: None is a copy, Up is one wrapping uint8 vector add,
    Sub is a cumulative sum mod 256 (rec[x] = Σ line[..x] mod 256 —
    the recurrence telescopes). Average and Paeth genuinely read the
    just-reconstructed left neighbor, so those rows keep a Python
    loop (over plain lists, not numpy scalars). With build_png's
    y % 5 filter cycle, 3/5 of all rows take the vector path.
    Returns the top-down (h, w) uint8 luminance grid."""
    stride = w + 1
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    out = np.empty((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        ft = int(mat[y, 0])
        line = mat[y, 1:]
        if ft == 0:
            out[y] = line
        elif ft == 1:  # Sub
            out[y] = np.cumsum(line, dtype=np.uint64).astype(np.uint8)
        elif ft == 2:  # Up: uint8 addition wraps mod 256 by definition
            out[y] = line + prev
        elif ft in (3, 4):  # Average / Paeth: true left recurrence
            li, pl = line.tolist(), prev.tolist()
            rec = bytearray(w)
            a = 0
            if ft == 3:
                for x in range(w):
                    a = (li[x] + (a + pl[x]) // 2) & 0xFF
                    rec[x] = a
            else:
                for x in range(w):
                    b = pl[x]
                    c = pl[x - 1] if x else 0
                    a = (li[x] + _paeth(a, b, c)) & 0xFF
                    rec[x] = a
            out[y] = np.frombuffer(bytes(rec), dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = out[y]
    return out


def decode_png(payload: bytes) -> dict:
    """Decode summary for an 8-bit grayscale PNG — the compressed-
    raster sibling of decode_bmp: the gray samples ARE the luminance,
    so the summary matches decode_bmp's for the same pixel grid."""
    return _raster_summary("image/png", 8, *png_gray(payload))


def _lzw_encode(data: bytes, min_code: int) -> bytes:
    """GIF-variant LZW (LSB-first variable-width codes, CLEAR/END
    codes, 12-bit cap). The code WIDTH the decoder expects depends on
    the DECODER's table size, which lags the encoder's by one insert —
    the classic GIF off-by-one trap. Instead of replicating that
    arithmetic, the encoder SIMULATES the decoder's table counter in
    lockstep (dec_next) and widens exactly when the decoder will:
    correct by construction, verified by the >4096-entry roundtrip
    stress in tests/test_gif_decode.py."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(clear)}, end + 1

    table, next_code = fresh()
    width = min_code + 1
    dec_next, dec_first = end + 1, True
    emit(clear, width)

    def emitted(code: int) -> None:
        # lockstep decoder simulation: the decoder inserts one entry
        # per code AFTER the first post-clear code, then widens when
        # its counter reaches the current width's capacity
        nonlocal dec_next, dec_first, width
        if dec_first:
            dec_first = False
            return
        dec_next += 1
        if dec_next == (1 << width) and width < 12:
            width += 1

    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        emitted(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
        else:
            # table full: flush CLEAR and restart both sides
            emit(clear, width)
            table, next_code = fresh()
            width = min_code + 1
            dec_next, dec_first = end + 1, True
        w = bytes([byte])
    if w:
        emit(table[w], width)
        emitted(table[w])
    emit(end, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


#: Per-min_code base symbol tables, built once — re-allocating 256
#: singleton bytes per CLEAR dominated decode cost on the small
#: per-doc payloads the corpus queries feed (round-10 LZW probe:
#: SCALING.md 'GIF LZW at scale').
_LZW_BASES: dict[int, list[bytes]] = {}


def _lzw_decode(data: bytes, min_code: int) -> bytes:
    """GIF-variant LZW decoder: variable width LSB-first, CLEAR
    resets, the KwKwK case (code == next entry), 12-bit cap.

    Hot-loop form (measured 1.3-1.4x over the naive loop, the best
    Python-reachable shape found by the round-10 probe): the base
    table is copied from a module cache instead of rebuilt per CLEAR,
    the previous ENTRY rides as bytes (no double table indexing), and
    the width mask is maintained incrementally."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = _LZW_BASES.get(min_code)
    if base is None:
        base = [bytes([i]) for i in range(clear)] + [b"", b""]
        _LZW_BASES[min_code] = base
    pos = bitbuf = nbits = 0
    out = bytearray()
    table = base.copy()
    append = table.append
    width = min_code + 1
    mask = (1 << width) - 1
    next_code = end + 1
    prev_entry = None
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("LZW stream ended without END code")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & mask
        bitbuf >>= width
        nbits -= width
        if code >= clear:
            if code == clear:
                table = base.copy()
                append = table.append
                width = min_code + 1
                mask = (1 << width) - 1
                next_code, prev_entry = end + 1, None
                continue
            if code == end:
                return bytes(out)
        if prev_entry is None:
            if code >= clear:
                raise ValueError(f"bad first LZW code {code}")
            prev_entry = table[code]
            out += prev_entry
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev_entry + prev_entry[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond table {next_code}")
        out += entry
        if next_code < 4096:
            append(prev_entry + entry[:1])
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
                mask = (1 << width) - 1
        prev_entry = entry


def _gif_subblocks(stream: bytes) -> bytes:
    return (
        b"".join(
            bytes([len(stream[i : i + 255])]) + stream[i : i + 255]
            for i in range(0, len(stream), 255)
        )
        + b"\x00"
    )


_GIF_GRAY_GCT = bytes(v for i in range(256) for v in (i, i, i))


def build_gif(gray: bytes, width: int = BMP_WIDTH) -> bytes:
    """Encode a grayscale byte grid as a REAL GIF89a (logical screen
    descriptor, 256-entry gray-identity global color table, image
    descriptor, genuine LZW-compressed index stream in sub-blocks,
    trailer) — the third raster container next to build_bmp and
    build_png, same grid contract (BMP_WIDTH pixels per row, trailing
    partial row dropped). Gray-identity palette makes index == luma,
    so all three containers hold the SAME image."""
    height = len(gray) // width
    if height == 0:
        raise ValueError(
            f"need at least {width} gray bytes for one row, got {len(gray)}"
        )
    gray = gray[: width * height]
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
        + _GIF_GRAY_GCT
        + struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
        + bytes([8])
        + _gif_subblocks(_lzw_encode(gray, 8))
        + b"\x3B"
    )


def gif_gray(payload: bytes) -> tuple[int, int, bytes]:
    """Block walk + LZW inflate for an 8-bit non-interlaced GIF with a
    gray-identity palette: (width, height, top-down row-major gray
    bytes). Violations fail LOUDLY (wrong palette, interlace, local
    color table, size mismatch), like the PNG/WAV branches."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if packed & 0x80:
        gct_len = 3 * (2 << (packed & 0x07))
        gct = payload[pos : pos + gct_len]
        if gct != _GIF_GRAY_GCT[: gct_len]:
            raise ValueError("GIF palette is not gray-identity")
        pos += gct_len
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while payload[pos]:
                pos += payload[pos] + 1
            pos += 1
        elif block == 0x2C:
            _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            if ipacked & 0x80:
                raise ValueError("local color tables unsupported")
            if ipacked & 0x40:
                raise ValueError("interlaced GIF unsupported")
            min_code = payload[pos]
            pos += 1
            stream = bytearray()
            while payload[pos]:
                ln = payload[pos]
                stream += payload[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            gray = _lzw_decode(bytes(stream), min_code)
            if len(gray) != w * h:
                raise ValueError("GIF pixel data size mismatch")
            return w, h, gray
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("GIF without image data")


def decode_gif(payload: bytes) -> dict:
    """Decode summary for an 8-bit gray GIF — the LZW sibling of
    decode_png/decode_bmp: same pixel grid, same summary."""
    return _raster_summary("image/gif", 8, *gif_gray(payload))


def with_bmp_payload(docs: DataFrame, src: str = "text", spread: bool = True) -> DataFrame:
    """Fixture builder: attach a REAL 24-bit BMP (``build_bmp``) whose
    gray pixel grid is the document's utf-8 bytes, BMP_WIDTH pixels
    per row (trailing partial row dropped by the encoder). Narrow
    Arrow map; requires ``length(src) >= BMP_WIDTH`` upstream."""
    return _with_payload(docs, src, spread, build_bmp)


def with_png_payload(docs: DataFrame, src: str = "text", spread: bool = True) -> DataFrame:
    """Fixture builder: attach a REAL 8-bit grayscale PNG
    (``build_png``) whose pixel grid is the document's utf-8 bytes,
    BMP_WIDTH pixels per row (same grid contract as with_bmp_payload,
    so the two containers hold the SAME image). Narrow Arrow map;
    requires ``length(src) >= BMP_WIDTH`` upstream."""
    return _with_payload(docs, src, spread, build_png)


def with_gif_payload(docs: DataFrame, src: str = "text", spread: bool = True) -> DataFrame:
    """Fixture builder: attach a REAL GIF89a (``build_gif``) whose
    pixel grid is the document's utf-8 bytes (same grid contract as
    with_bmp_payload / with_png_payload, so all three containers hold
    the SAME image). Narrow Arrow map; requires
    ``length(src) >= BMP_WIDTH`` upstream."""
    return _with_payload(docs, src, spread, build_gif)


def raster_gray(payload: bytes) -> tuple[str, int, int, int, bytes]:
    """Decode a raster payload, dispatched on magic bytes: (mime, bpp,
    width, height, top-down row-major luma bytes) from ``png_gray``,
    ``gif_gray`` or ``bmp_gray``, with every check those decoders make.
    The one decoder behind decode_image, thumbnail_features and
    perceptual_hash(pixel_decode=True). Any other payload fails LOUDLY
    — blindly struct-parsing it as a BMP would produce garbage
    geometry, not an error."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return ("image/png", 8, *png_gray(payload))
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return ("image/gif", 8, *gif_gray(payload))
    if payload[:2] == b"BM":
        return ("image/bmp", 24, *bmp_gray(payload))
    raise ValueError(
        f"raster decode expects a BMP or PNG or GIF payload, got {payload[:8]!r}"
    )


def decode_image(df: DataFrame) -> DataFrame:
    """REAL image decode stage: payloads are genuine raster containers
    — uncompressed 24-bit BMP (``build_bmp``), 8-bit grayscale PNG
    (``build_png``) or LZW-compressed GIF89a (``build_gif``) —
    dispatched on magic bytes and parsed on the workers by
    ``raster_gray``: struct header walk + un-flip + integer luma for
    BMP; chunk walk + CRC check + zlib inflate + per-row filter
    reconstruction for PNG; block walk + variable-width LZW for GIF.
    Narrow map, Arrow batch in/out; the exact stage shape a PIL-backed
    pipeline has, with the three raster codecs the stdlib plus ~80
    lines of LZW can express in the decode slot."""

    keys = _columns(BMP_DECODE_SCHEMA)[1:]

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        return [(doc_id, *map(_raster_summary(*raster_gray(payload)).get, keys))]

    return _payload_stage(df, BMP_DECODE_SCHEMA, rows)


def thumbnail_features(df: DataFrame) -> DataFrame:
    """REAL image transform stage: decode each raster payload (BMP,
    PNG or GIF via ``raster_gray``, dispatched on magic bytes) and 2x2
    box-downsample the luminance grid — the thumbnailing/resolution-
    bucketing step every multimodal training pipeline runs before
    feature extraction. Odd trailing row/column are cropped (floor
    semantics); each output pixel is the FLOOR of the mean of its 2x2
    block, computed in exact integer arithmetic so the result replays
    byte-for-byte in SQL. Emits per doc:

      out_w, out_h   downsampled geometry
      luma_sum       sum of downsampled pixels (exact)
      luma_wsum      position-weighted sum((i+1) * v[i]) over the
                     row-major downsampled grid — order-SENSITIVE, so
                     a transposed / flipped / mis-strided downsample
                     cannot hash-collide with the correct one

    Narrow Arrow map: payloads never shuffle; the downsample is a
    strided numpy add (four shifted views), no Python per pixel."""

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        _, _, w, h, gray = raster_gray(payload)
        h2, w2 = h // 2, w // 2
        if h2 == 0 or w2 == 0:
            return []
        g = np.frombuffer(gray, dtype=np.uint8).reshape(h, w)
        g = g[: h2 * 2, : w2 * 2].astype(np.int64)
        ds = (g[0::2, 0::2] + g[0::2, 1::2] + g[1::2, 0::2] + g[1::2, 1::2]) // 4
        flat = ds.ravel()
        weights = np.arange(1, flat.size + 1, dtype=np.int64)
        return [(doc_id, w2, h2, int(flat.sum()), int((weights * flat).sum()))]

    return _payload_stage(
        df,
        "doc_id bigint, out_w int, out_h int, luma_sum bigint, luma_wsum bigint",
        rows,
    )


PHASH_SEGMENTS = 60
PHASH_SCHEMA = "doc_id bigint, phash bigint"
# Deterministic "re-encode" noise model: +1 on every 17th byte — the
# stand-in for the byte-local jitter a lossy re-compression applies to
# an image. Same length, tiny per-segment sum shift, so a perceptual
# hash survives it while an exact md5 cannot.
PHASH_NOISE_STRIDE = 17
# Variant rows get doc_id + this offset; far above any real doc_id
# (make_sfbig shifts by 10M per copy, max ~100M at sf1).
PHASH_VARIANT_OFFSET = 1_000_000_000


def perceptual_hash(
    docs: DataFrame,
    noisy_variant: bool = False,
    carry: tuple[tuple[str, str], ...] = (),
    pixel_decode: bool = False,
) -> DataFrame:
    """aHash-style perceptual fingerprint over payload bytes.

    The image-pipeline shape (average-hash: resize to a tiny grid,
    threshold each cell against the global mean) applied to the
    deterministic byte-math stand-in: the payload is split into
    PHASH_SEGMENTS contiguous byte segments (boundaries at
    (s*n)//SEG — the integer "resize"), and bit s is set iff the
    segment's byte mean is >= the whole payload's byte mean. The
    comparison is done as an exact integer cross-multiply
    (seg_sum * n >= total_sum * seg_len), so the 60-bit fingerprint
    is bit-identical across engines — no float thresholds.

    With ``noisy_variant`` the stage ALSO emits, per input payload, a
    second fingerprint row (doc_id + PHASH_VARIANT_OFFSET) hashed from
    the payload with re-encode noise applied (+1 every 17th byte) —
    the fixture for "same image, different bytes after recompression".
    The noise is applied inside this stage, so the variant payload
    never materializes anywhere.

    Narrow map: payload bytes never shuffle; only (doc_id, phash)
    continues downstream.

    ``pixel_decode=True`` IS the real image pipeline: payloads are
    decoded as BMP, PNG or GIF containers (``raster_gray``, the
    decoder decode_image uses) and the fingerprint runs over the decoded top-down luminance grid
    instead of raw container bytes — headers, padding and bottom-up
    storage order no longer leak into the hash, so the fingerprint is
    a property of the IMAGE, not its serialization. Banding and the
    Hamming join downstream are unchanged, exactly as documented.
    The noisy variant then perturbs pixel VALUES (+1 per stride-th
    luma sample — re-encode jitter where it physically lands), not
    header bytes.
    """

    bit_values = 1 << np.arange(PHASH_SEGMENTS, dtype=np.int64)

    def _phash(arr: np.ndarray) -> int:
        # One cumsum per payload instead of 60 sliced sums: segment
        # boundaries (s*n)//SEG are exact integer math, so the
        # result is bit-identical to the per-segment loop the
        # oracle replays. Empty segments (n < SEG) contribute bit 0
        # — 0*n >= total*0 would SET the bit and make all short
        # payloads look alike, so they are masked out; registered
        # queries filter length >= SEG and never hit this branch.
        n = len(arr)
        seg = np.arange(PHASH_SEGMENTS + 1, dtype=np.int64)
        bounds = (seg * n) // PHASH_SEGMENTS
        csum = np.concatenate(([0], np.cumsum(arr)))
        ssums = csum[bounds[1:]] - csum[bounds[:-1]]
        slens = bounds[1:] - bounds[:-1]
        total = int(csum[-1])
        bits = ((ssums * n) >= (total * slens)) & (slens > 0)
        return int(bit_values[bits].sum())

    def rows(doc_id: int, payload: bytes) -> Iterator[tuple]:
        if pixel_decode:
            *_, payload = raster_gray(payload)
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
        yield doc_id, _phash(arr)
        if noisy_variant:
            noisy = arr.copy()
            noisy[::PHASH_NOISE_STRIDE] += 1
            yield doc_id + PHASH_VARIANT_OFFSET, _phash(noisy)

    return _payload_stage(docs, PHASH_SCHEMA, rows, carry)


# Autocorrelation lags for the periodicity features: samples (not
# frames), so lag L compares s[i] with s[i+L].
AUTOCORR_LAGS = (1, 2, 4)


def audio_autocorr(df: DataFrame) -> DataFrame:
    """Clip-level autocorrelation features: decode each WAV payload
    (stdlib ``wave``, 8-bit PCM only — same loud sample-width guard as
    frame_audio_energy) and emit, per clip,

      n_samples  decoded sample count
      r0         Σ s[i]²            (energy; autocorr at lag 0)
      r<L>       Σ s[i]·s[i+L]      for each L in AUTOCORR_LAGS

    over centered samples s = byte − 128. Autocorrelation at short
    lags is the classic periodicity/voicing signal (speech vs noise vs
    silence) and — unlike spectral features — it is EXACT integer
    math: each r is an int64 dot product, so the oracle can replay it
    from the fixture text and normalized ratios downstream are single
    exact divisions. Narrow Arrow map: one row out per clip, the
    payload never shuffles, per-clip work is numpy dot products."""

    def rows(doc_id: int, payload: bytes) -> list[tuple]:
        s = _centered_pcm8(payload, "audio_autocorr")
        n = len(s)
        if n == 0:
            return []
        lags = (int(np.dot(s[:-L], s[L:])) if n > L else 0 for L in AUTOCORR_LAGS)
        return [(doc_id, n, int(np.dot(s, s)), *lags)]

    return _payload_stage(
        df,
        "doc_id bigint, n_samples bigint, r0 bigint"
        + "".join(f", r{L} bigint" for L in AUTOCORR_LAGS),
        rows,
    )
