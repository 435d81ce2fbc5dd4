"""Multimodal column handling (SURVEY.md §2.3 "multimodal columns").

The testdata has no real image/audio bytes, so the binary payloads are
derived deterministically from `documents.text` (utf-8 encode). What
IS real and tested end-to-end is the Spark-side plumbing a multimodal
pipeline needs at 100 TB:

* an opaque `binary` payload column + typed metadata struct,
* hashing/length/prefix ops on binary columns (JVM-side),
* an Arrow-batched `mapInPandas` decode/feature-extract stage
  (`etl_spark.operators.media`) whose decode slot dispatches on magic
  bytes to REAL stdlib codecs where they exist — `wave` for RIFF/WAVE
  audio (`mm_decode_wav`), `zlib` for DEFLATE (`mm_decode_deflate`) —
  and to a deterministic byte-math stand-in for formats whose codecs
  (PIL/ffmpeg) are not in this container.

Scale: payloads never shuffle — feature extraction is a narrow map;
metadata (small struct) is what joins/groupBys touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.io import load, register_views
from etl_spark.operators.media import (
    AUDIO_FRAME,
    BMP_WIDTH,
    FRAME_BYTES,
    FRAME_SAMPLE_EVERY,
    PHASH_NOISE_STRIDE,
    PHASH_SEGMENTS,
    PHASH_VARIANT_OFFSET,
    RESIZE_TARGET_BYTES,
    decode_image,
    perceptual_hash,
    with_bmp_payload,
    with_gif_payload,
    with_png_payload,
)
from etl_spark.plans.curation import CHUNK_STRIDE, CHUNK_TOKENS
from etl_spark.plans.llm_dedup import exact_reps
from etl_spark.plans.registry import register


@register(
    "mm_binary_payload",
    oracle="""
    SELECT
      doc_id,
      CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      md5(text)                           AS payload_md5,
      substr(text, 1, 8)                  AS head_preview,
      lang                                AS meta_lang,
      'text/plain'                        AS meta_mime
    FROM documents
    """,
    doc="Binary payload column + typed metadata: encode text → binary, "
        "then JVM-side octet_length / md5 / prefix on the bytes. The "
        "oracle works on the identical utf-8 bytes via the string form.",
    tags=("multimodal", "llm"),
)
def mm_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "utf-8")
    )
    return docs.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        # Character (not byte) prefix: a byte-slice of the payload could
        # cut a multi-byte UTF-8 codepoint and diverge from the oracle's
        # substr-on-text semantics on non-ASCII corpora.
        F.substring("text", 1, 8).alias("head_preview"),
        F.col("lang").alias("meta_lang"),
        F.lit("text/plain").alias("meta_mime"),
    )


@register(
    "udf_token_count_pandas",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens_udf,
           n_chars
    FROM documents
    """,
    doc="Vectorized scalar pandas_udf (Arrow batches) computing token "
        "counts — the UDF surface demo, oracle-checked against the "
        "pure-SQL equivalent. For production the built-in size(split()) "
        "form (text_token_stats) is preferred: same result, JVM-side.",
    tags=("udf", "pandas-udf"),
)
def udf_token_count_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _n_tokens(text):
        # Self-contained (no module references): cloudpickled by value.
        # Nullable Int32: NULL text must yield NULL (as the oracle's
        # len(string_split(NULL)) does), not crash the NaN→int cast.
        return text.str.split(" ").str.len().astype("Int32")

    # Real (non-string) annotations: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf can't interpret.
    _n_tokens.__annotations__ = {"text": pd.Series, "return": pd.Series}
    n_tokens = pandas_udf(_n_tokens, "int")

    return load(spark, sf_dir, "documents").select(
        "doc_id", n_tokens("text").alias("n_tokens_udf"), "n_chars"
    )


@register(
    "udaf_weighted_value_mean",
    oracle="""
    SELECT event_type,
           CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         * (1 + user_id % 5)) AS DOUBLE)
                / (100.0 * SUM(1 + user_id % 5)) AS DOUBLE) AS weighted_mean
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Grouped-aggregate pandas UDF (the UDAF surface): per-type "
        "weighted mean of event values with deterministic integer "
        "weights. Values are 2-decimal, so the UDAF accumulates exact "
        "int64 cents × weight — float summation order (which differs "
        "between numpy and any SQL engine) never touches the "
        "accumulator, making the Arrow-batched custom aggregate "
        "oracle-exact. Spark runs it as a real aggregate exchange "
        "(partial batches → grouped Arrow UDAF), not a collect.",
    tags=("udf", "udaf", "pandas-udf", "aggregation"),
)
def udaf_weighted_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wmean(value, weight):
        # Self-contained (cloudpickled by value). Exact integer-cent
        # accumulation: round() undoes the one-ulp noise of value*100
        # in binary floating point before the int cast. NULL values
        # drop from the numerator only (SQL SUM semantics: the
        # denominator still counts every row's weight); an all-NULL
        # group is NULL, as SUM over no rows is.
        w = weight.astype("int64")
        mask = value.notna()
        if not mask.any():
            return None
        cents = (value[mask] * 100).round().astype("int64")
        return float((cents * w[mask]).sum()) / (100.0 * float(w.sum()))

    _wmean.__annotations__ = {
        "value": pd.Series,
        "weight": pd.Series,
        "return": float,
    }
    wmean = pandas_udf(_wmean, "double")

    ev = load(spark, sf_dir, "events").withColumn(
        "weight", (F.lit(1) + F.col("user_id") % 5)
    )
    return (
        ev.groupBy("event_type")
        .agg(wmean("value", "weight").alias("weighted_mean"))
        .orderBy("event_type")
    )


@register(
    "udtf_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST((s - 1) // {CHUNK_STRIDE} AS INTEGER)        AS chunk_idx,
           array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
           CAST(LEAST({CHUNK_TOKENS}, len(t) - s + 1) AS INTEGER) AS n_tokens
    FROM toks, unnest(generate_series(1, len(t), {CHUNK_STRIDE})) AS g(s)
    ORDER BY doc_id, chunk_idx
    """,
    doc="Python UDTF (Spark 4 @udtf) surface demo: one input row → "
        "many output rows via a LATERAL table-function join, the "
        "row-expanding twin of text_chunk_windows (same 32-token / "
        "stride-24 sliding chunks, oracle-identical output). For "
        "production the built-in HOF form is preferred — it stays "
        "JVM-side — while this closes the UDF/UDAF/UDTF API trio; "
        "the UDTF class is defined locally so cloudpickle ships it "
        "by value (workers don't import etl_spark).",
    tags=("udf", "udtf", "text", "chunking"),
)
def udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # Module-level CHUNK_* constants (shared with the oracle f-string)
    # rebound to plain locals so the UDTF closure stays self-contained.
    size, stride = CHUNK_TOKENS, CHUNK_STRIDE

    @udtf(returnType="chunk_idx: int, chunk_text: string, n_tokens: int")
    class ChunkWindows:
        def eval(self, text):
            if text is None:
                return
            toks = text.split(" ")
            n = len(toks)
            for idx, s in enumerate(range(0, n, stride)):
                yield idx, " ".join(toks[s : s + size]), min(size, n - s)

    spark.udtf.register("chunk_windows_udtf", ChunkWindows)
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM documents d, LATERAL chunk_windows_udtf(d.text) c
        WHERE d.text IS NOT NULL
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


# The mm_* oracles replay BYTE math as DuckDB string math, which is
# only valid where byte == char. Both sides therefore restrict the
# registered queries to the ASCII-verifiable slice with the SAME
# predicate (NULL text fails it too, in both engines); the underlying
# operators in operators/media.py stay fully general — they work on
# any bytes, the oracle just can't replay multi-byte chars. On the
# driver corpus every document is ASCII, so the slice is total.
# ONE definition per dialect: Spark's encode takes a charset arg,
# DuckDB's doesn't — edit both together or the row sets desync.
_ASCII_DOCS = "octet_length(encode(text, 'utf-8')) = length(text)"
_ASCII_DOCS_SQL = "octet_length(encode(text)) = length(text)"


def media_docs(
    spark: SparkSession, sf_dir: str, min_len: int = 0
) -> DataFrame:
    """The ASCII media corpus every media and near-dup query reads:
    ``documents`` on the ``_ASCII_DOCS`` slice, cut to texts of at
    least ``min_len`` characters when ``min_len`` is set (each payload
    family has its own floor: a non-empty clip, one or more pixel
    rows, one byte per fingerprint segment)."""
    docs = load(spark, sf_dir, "documents").where(_ASCII_DOCS)
    return docs.where(F.length("text") >= min_len) if min_len else docs


@register(
    "mm_extract_features",
    # The fake decode is a pure deterministic function of the payload
    # bytes; on the ASCII slice (see _ASCII_DOCS) DuckDB replays the
    # byte math over text: stride-64 signature, 256-byte frame count,
    # exact integer-ratio mean. COALESCE: an empty document still has
    # a signature — md5 of zero sampled bytes — where string_agg over
    # an empty list would yield NULL.
    oracle=f"""
    WITH ascii_docs AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents
      WHERE {_ASCII_DOCS_SQL}
    )
    SELECT doc_id,
      CAST(n AS INTEGER) AS n_bytes,
      CAST(n // {FRAME_BYTES} + 1 AS INTEGER) AS n_frames,
      md5(COALESCE(list_aggr(list_transform(generate_series(1, n, 64),
                                            i -> text[i]),
                             'string_agg', ''), ''))
        AS frame_signature,
      CASE WHEN n = 0 THEN 0.0
           ELSE CAST(list_sum(list_transform(generate_series(1, n),
                                             i -> ord(text[i]))) AS DOUBLE) / n
      END AS mean_byte
    FROM ascii_docs
    """,
    doc="Arrow-batched mapInPandas feature extraction over binary "
        "payloads (operators/media.py): deterministic fake decode "
        "standing in for image/audio codecs, real batch plumbing.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import extract_features, with_payload

    docs = with_payload(media_docs(spark, sf_dir))
    return extract_features(docs)


@register(
    "mm_frame_sample",
    # Byte-level framing IS SQL-expressible on this corpus: ASCII means
    # byte slices are char slices, so every sampled frame is a
    # substring and its md5 matches the Python frame md5 exactly.
    oracle=f"""
    SELECT d.doc_id,
      CAST(g.idx AS INTEGER) AS frame_idx,
      CAST(length(substring(d.text, g.idx * {FRAME_BYTES} + 1,
                            {FRAME_BYTES})) AS INTEGER) AS frame_bytes,
      md5(substring(d.text, g.idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
        AS frame_md5
    FROM (SELECT doc_id, text FROM documents
          WHERE {_ASCII_DOCS_SQL}) d,
         UNNEST(generate_series(0, length(d.text) // {FRAME_BYTES},
                                {FRAME_SAMPLE_EVERY})) AS g(idx)
    """,
    doc="Frame sampling over binary payloads (the video-pipeline "
        "stand-in): fixed-size byte frames, every 2nd emitted as its "
        "own row — a 1:N mapInPandas whose output batches are larger "
        "than the input, with the frame payload md5'd where it sits "
        "(operators/media.py sample_frames). Narrow map; only sampled "
        "frame rows continue downstream.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import sample_frames, with_payload

    docs = with_payload(media_docs(spark, sf_dir))
    return sample_frames(docs)


@register(
    "mm_resize_payload",
    # Truncate-or-zero-pad replayed as substring + rpad(chr(0)) —
    # DuckDB VARCHARs carry embedded NULs, so the md5 matches the
    # padded-bytes md5 bit-for-bit on the ASCII corpus.
    oracle=f"""
    SELECT doc_id,
      CAST(length(text) AS INTEGER) AS orig_bytes,
      CAST({RESIZE_TARGET_BYTES} AS INTEGER) AS new_bytes,
      md5(rpad(substring(text, 1, {RESIZE_TARGET_BYTES}),
               {RESIZE_TARGET_BYTES}, chr(0))) AS resized_md5
    FROM documents
    WHERE {_ASCII_DOCS_SQL}
    """,
    doc="Resize stage (image-resize stand-in): every payload truncated "
        "or zero-padded to a constant size, output fingerprinted — the "
        "deterministic 1:1 mapInPandas batch shape of a real decoder-"
        "resize (operators/media.py resize_payload).",
    tags=("multimodal", "llm", "pandas-udf"),
)
def mm_resize_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import resize_payload, with_payload

    docs = with_payload(media_docs(spark, sf_dir))
    return resize_payload(docs)


@register(
    "mm_payload_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, md5(text) AS payload_md5,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents WHERE text IS NOT NULL
    )
    SELECT payload_md5,
           CAST(COUNT(*) AS BIGINT)        AS n_copies,
           CAST(MIN(doc_id) AS BIGINT)     AS canonical_id,
           CAST(MIN(n_bytes) AS BIGINT)    AS payload_bytes,
           CAST((COUNT(*) - 1) * MIN(n_bytes) AS BIGINT) AS wasted_bytes
    FROM hashed
    GROUP BY payload_md5
    HAVING COUNT(*) > 1
    ORDER BY payload_md5
    """,
    doc="Binary payload dedup (the multimodal form of dedup_exact): "
        "payloads hashed JVM-side, duplicate groups reported with the "
        "storage they waste — the metric that justifies content-"
        "addressed payload storage before a multimodal training run. "
        "Only the 32-byte hash and a length ever shuffle; the payload "
        "itself stays in place.",
    tags=("multimodal", "llm", "dedup", "aggregation"),
)
def mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("payload", F.encode("text", "utf-8"))
    )
    hashed = docs.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
    )
    return (
        hashed.groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
            F.min("n_bytes").alias("payload_bytes"),
            ((F.count(F.lit(1)) - 1) * F.min("n_bytes"))
            .cast("bigint")
            .alias("wasted_bytes"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("payload_md5")
    )


@register(
    "mm_decode_wav",
    # REAL codec in the decode slot: payloads are genuine RIFF/WAVE
    # containers (stdlib `wave` encoder), parsed back on the workers
    # by the stdlib `wave` DECODER — header walk, fmt chunk, PCM frame
    # read. Because the PCM samples are the doc's utf-8 bytes by
    # construction, every decoded field replays in SQL from the text
    # on the ASCII slice: the oracle checks the decode, not a copy of
    # the stand-in math.
    oracle=f"""
    SELECT doc_id,
      'audio/wav'                        AS mime,
      CAST(1 AS INTEGER)                 AS n_channels,
      CAST(8000 AS INTEGER)              AS sample_rate,
      CAST(length(text) AS BIGINT)       AS n_samples,
      CASE WHEN length(text) = 0 THEN 0.0
           ELSE CAST(list_sum(list_transform(generate_series(1, length(text)),
                                             i -> ord(text[i]))) AS DOUBLE)
                / length(text)
      END                                AS mean_sample,
      md5(text)                          AS pcm_md5
    FROM documents
    WHERE {_ASCII_DOCS_SQL}
    """,
    doc="Genuine audio decode (operators/media.py decode_audio): "
        "stdlib wave codec parses real WAV containers per row in an "
        "Arrow mapInPandas — the same narrow-map stage shape a "
        "torchaudio pipeline has. Payload never shuffles; only the "
        "k-column feature row continues.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import decode_audio, with_wav_payload

    return decode_audio(with_wav_payload(media_docs(spark, sf_dir)))


@register(
    "mm_decode_deflate",
    # Second real stdlib codec: payloads are zlib-DEFLATE streams of
    # the text bytes; the decode branch inflates them and fingerprints
    # the recovered bytes. Compressed size is codec-internal (not SQL-
    # replayable), so only decoded-side fields are output — which is
    # exactly what proves the decompression round-trip.
    oracle="""
    SELECT doc_id,
      'application/zlib'                           AS mime,
      CAST(octet_length(encode(text)) AS BIGINT)   AS decoded_bytes,
      md5(text)                                    AS decoded_md5
    FROM documents
    WHERE text IS NOT NULL
    """,
    doc="Genuine DEFLATE decode: payloads compressed with stdlib zlib "
        "on one narrow map, inflated + fingerprinted on another via "
        "decode_payload's magic-byte dispatch (operators/media.py). "
        "The oracle verifies the round-trip against the source bytes.",
    tags=("multimodal", "llm", "pandas-udf"),
)
def mm_decode_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import decode_deflate, with_deflate_payload

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return decode_deflate(with_deflate_payload(docs))


# Frame-level audio features. The oracle replays the whole stage from
# text because the WAV PCM IS the utf-8 bytes: centered samples are
# ord(ch) - 128, frames are 1-based substring windows, and the
# activity threshold is an exact integer cross-multiply — no float
# aggregation ever crosses engines (frame rms is a unary
# divide + sqrt of exact integers, bit-identical in IEEE double).
_AUDIO_FRAME_ORACLE = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE {ascii_docs} AND length(text) > 0
    ),
    fr AS (
      SELECT doc_id, n, f.f AS frame_idx,
             CASE WHEN (f.f + 1) * {frame} <= n THEN {frame}
                  ELSE n - f.f * {frame} END AS frame_n,
             list_transform(
               generate_series(f.f * {frame} + 1,
                               LEAST((f.f + 1) * {frame}, n)),
               i -> ord(text[i]) - 128) AS vals
      FROM d, UNNEST(generate_series(0, (n + {frame} - 1) // {frame} - 1))
               AS f(f)
    ),
    agg AS (
      SELECT doc_id, frame_idx, frame_n,
             CAST(list_sum(vals) AS BIGINT) AS frame_sum,
             CAST(list_sum(list_transform(vals, v -> v * v)) AS BIGINT)
               AS frame_sq
      FROM fr
    ),
    tot AS (
      SELECT doc_id, CAST(SUM(frame_sq) AS BIGINT) AS tot_sq,
             CAST(SUM(frame_n) AS BIGINT) AS tot_n
      FROM agg GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(a.frame_idx AS INTEGER) AS frame_idx,
           CAST(a.frame_n AS INTEGER) AS frame_n,
           a.frame_sum, a.frame_sq,
           sqrt(CAST(a.frame_sq AS DOUBLE) / a.frame_n) AS rms,
           a.frame_sq * t.tot_n > t.tot_sq * a.frame_n AS active
    FROM agg a JOIN tot t USING (doc_id)
    ORDER BY a.doc_id, a.frame_idx
"""


@register(
    "mm_audio_frame_energy",
    oracle=_AUDIO_FRAME_ORACLE.format(
        ascii_docs=_ASCII_DOCS_SQL, frame=AUDIO_FRAME
    ),
    doc="Frame-level audio feature extraction + energy-based activity "
        "detection — the stage between decode and model in a real "
        "speech pipeline (librosa.feature / torchaudio transforms): "
        "each genuine WAV payload is decoded by the stdlib wave codec "
        "on the workers, its 8-bit PCM split into 160-sample (20 ms "
        "at 8 kHz) analysis frames (trailing partial frame kept with "
        "its true length), and per-frame centered energy computed as "
        "a numpy reshape+einsum (operators/media.py "
        "frame_audio_energy). A frame is ACTIVE when its mean square "
        "exceeds the whole clip's mean square — the classic energy "
        "VAD gate — decided by an exact integer cross-multiply "
        "(frame_sq * tot_n > tot_sq * frame_n), never a float "
        "compare, so the verdict is bit-stable across engines. Spark "
        "shape: narrow Arrow decode map (payload never shuffles), "
        "then ONE shuffle — the per-doc window that sums exact "
        "integer energies. The oracle replays frames, energies and "
        "the VAD verdict from text because the PCM is the utf-8 "
        "bytes by construction.",
    tags=("multimodal", "llm", "audio", "pandas-udf", "window"),
)
def mm_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_spark.operators.media import frame_audio_energy, with_wav_payload

    docs = media_docs(spark, sf_dir, 1)
    frames = frame_audio_energy(with_wav_payload(docs))
    w = Window.partitionBy("doc_id")
    return (
        frames.withColumn("tot_sq", F.sum("frame_sq").over(w))
        .withColumn("tot_n", F.sum(F.col("frame_n").cast("bigint")).over(w))
        .withColumn(
            "active",
            F.col("frame_sq") * F.col("tot_n")
            > F.col("tot_sq") * F.col("frame_n"),
        )
        .select(
            "doc_id", "frame_idx", "frame_n", "frame_sum", "frame_sq",
            "rms", "active",
        )
        .orderBy("doc_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup over multimodal payloads
# ---------------------------------------------------------------------------

# 5 bands x 12 bits = the full 60-bit fingerprint. The band count is
# the recall CONTRACT: a pair within Hamming <= HAM_MAX differs in at
# most HAM_MAX bands, so with BANDS = HAM_MAX + 1 the pigeonhole
# principle guarantees at least one untouched band and the pair is
# ALWAYS a candidate — banding at 4 bands would silently drop true
# pairs at exactly Hamming 4 (one flipped bit per band).
#
# Scale knob: expected bucket occupancy is n_fingerprints / 2^BAND_BITS,
# so the pair join grows ~n^2 / 2^BAND_BITS. The guarantee pins the
# BAND COUNT, not the band width — at larger corpora you widen the
# FINGERPRINT (PHASH_SEGMENTS 60 -> 120 gives 5 x 24-bit bands, 16M
# buckets) and keep bands = HAM_MAX + 1. 12-bit buckets are sized for
# the graded corpora (~10^4 representatives after exact-dup collapse,
# ~2.4 fingerprints per bucket even at the 10x drive, where exact-dup
# collapse absorbs the replication).
PHASH_HAM_MAX = 4
PHASH_BANDS = PHASH_HAM_MAX + 1
PHASH_BAND_BITS = PHASH_SEGMENTS // PHASH_BANDS  # 12
PHASH_BAND_MASK = (1 << PHASH_BAND_BITS) - 1  # 4095
# Length floor of the byte-segment fingerprint: at least one byte per
# segment (PHASH_SEGMENTS = 60). The oracles spell it as the literal 60.
PHASH_MIN_LEN = 60
# Deterministic ingest-slice convention for the history gate; the
# streaming twin (streaming/phash_gate.py) imports THIS constant so
# batch query, oracle and stream stay single-sourced.
PHASH_GATE_MOD = 10

# Every geometry constant the oracles replay, interpolated so widening
# PHASH_SEGMENTS (the documented scale knob, 60 -> 120) re-derives the
# oracle SQL instead of silently desyncing it.
_PHASH_FMT = dict(
    seg=PHASH_SEGMENTS,
    seg_last=PHASH_SEGMENTS - 1,
    band_last=PHASH_BANDS - 1,
    band_bits=PHASH_BAND_BITS,
    band_mask=PHASH_BAND_MASK,
    stride=PHASH_NOISE_STRIDE,
    offset=PHASH_VARIANT_OFFSET,
    ham=PHASH_HAM_MAX,
    gate_mod=PHASH_GATE_MOD,
)

# The oracle replays the whole pipeline from text bytes: fingerprint
# (bit s = exact integer cross-multiply of segment byte-sum vs whole-
# payload byte-sum), the noisy re-encode variant (+1 every 17th byte,
# 1-based (i-1)%17=0 mirrors the 0-based numpy stride), 12-bit LSH
# banding, and the Hamming<=4 confirm via bit_count(xor(..)).
_PHASH_ORACLE = """
    WITH reps AS (
      -- collapse exact payload duplicates first (the scale-correct
      -- order: near-dup only ever runs over canonical representatives)
      SELECT MIN(doc_id) AS doc_id, MIN(text) AS text,
             MIN(length(text)) AS n
      FROM documents
      WHERE {ascii_docs} AND length(text) >= 60
      GROUP BY md5(text)
    ),
    both_sides AS (
      SELECT doc_id, text, n, 0 AS noise FROM reps
      UNION ALL
      SELECT doc_id + {offset}, text, n, 1 AS noise FROM reps
    ),
    segsum AS (
      SELECT r.doc_id, r.n, g.s,
             ((g.s + 1) * r.n) // {seg} - (g.s * r.n) // {seg} AS slen,
             COALESCE(list_sum(list_transform(
               generate_series((g.s * r.n) // {seg} + 1, ((g.s + 1) * r.n) // {seg}),
               i -> ord(r.text[i])
                    + CASE WHEN r.noise = 1 AND (i - 1) % {stride} = 0
                           THEN 1 ELSE 0 END)), 0) AS ssum
      FROM both_sides r, UNNEST(generate_series(0, {seg_last})) AS g(s)
    ),
    tot AS (
      SELECT doc_id, SUM(ssum) AS dsum FROM segsum GROUP BY doc_id
    ),
    ph AS (
      SELECT g.doc_id,
             CAST(SUM(CASE WHEN g.ssum * g.n >= t.dsum * g.slen
                      THEN (CAST(1 AS BIGINT) << g.s) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM segsum g JOIN tot t USING (doc_id)
      GROUP BY g.doc_id
    ),
    bands AS (
      SELECT doc_id, phash, b.band_idx,
             (phash >> ({band_bits} * b.band_idx)) & {band_mask} AS band_val
      FROM ph, UNNEST(generate_series(0, {band_last})) AS b(band_idx)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.phash AS phash_a, b.phash AS phash_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx
                  AND a.band_val = b.band_val
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, phash_a, phash_b,
           CAST(bit_count(xor(phash_a, phash_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(phash_a, phash_b)) <= {ham}
    ORDER BY doc_a, doc_b
"""


@register(
    "mm_phash_neardup",
    oracle=_PHASH_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT),
    doc="Perceptual-hash near-dup over binary payloads — the image-"
        "dedup shape (aHash fingerprint + Hamming-LSH banding) that "
        "catches what exact hashing cannot: the same payload after a "
        "lossy re-encode. Exact payload dups collapse to one "
        "representative FIRST (groupBy payload md5 — at 100 TB this "
        "is what keeps a 10^4x-duplicated image from exploding the "
        "band buckets); each representative then yields TWO "
        "fingerprints in ONE Arrow mapInPandas — the payload as-is "
        "and a deterministic re-encode variant (+1 every 17th byte, "
        "the recompression-jitter stand-in; operators/media.py "
        "perceptual_hash) — and the payload never shuffles, only "
        "(doc_id, 60-bit phash) rows do. Fingerprints band into 5x"
        "12-bit LSH keys — bands = HAM_MAX + 1, so the pigeonhole "
        "principle GUARANTEES every pair within the Hamming bar "
        "shares an untouched band — candidates pair on band equality "
        "(SMJ-"
        "pinned: both sides corpus-derived), survivors confirmed by "
        "exact Hamming <= 4 via bit_count(xor). Every base/variant "
        "pair lands within the bar (byte-local noise barely moves "
        "segment means) while unrelated pairs sit near Hamming 30 — "
        "measured separation, fenced in tests/test_phash_neardup.py. "
        "All integer math end-to-end, so the DuckDB oracle replays "
        "the fingerprints bit-for-bit from the text bytes.",
    tags=("multimodal", "llm", "dedup", "neardup", "pandas-udf"),
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    reps = exact_reps(media_docs(spark, sf_dir, PHASH_MIN_LEN)).withColumn(
        "payload", F.encode("text", "utf-8")
    )
    return _phash_band_pairs(perceptual_hash(reps, noisy_variant=True))


def _bands(hashed: DataFrame) -> DataFrame:
    """Explode each fingerprint into one row per LSH band (``band_idx``,
    ``band_val`` = that band's PHASH_BAND_BITS-bit slice of ``phash``);
    every other column rides along. THE banding of every phash query:
    the batch pair join, both sides of the history gate (batch and
    streaming) and the ingest triad."""
    structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(
                    f"shiftright(phash, {PHASH_BAND_BITS * b})"
                    f" & {PHASH_BAND_MASK}"
                ).alias("band_val"),
            )
            for b in range(PHASH_BANDS)
        ]
    )
    return hashed.select(
        *hashed.columns, F.explode(structs).alias("bs")
    ).select(*hashed.columns, F.col("bs.band_idx"), F.col("bs.band_val"))


def _phash_band_pairs(hashed: DataFrame) -> DataFrame:
    """LSH banding + self-join + exact-Hamming confirm over a
    (doc_id, phash) frame — the shared back half of every phash
    near-dup query (byte-segment and decoded-pixel fingerprints use
    identical band geometry; only the fingerprint stage differs)."""
    bands = _bands(hashed)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.hint("merge")
        .join(
            b.hint("merge"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.phash").alias("phash_a"),
            F.col("b.phash").alias("phash_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(phash_a ^ phash_b)").cast("int"),
        )
        .filter(F.col("hamming") <= PHASH_HAM_MAX)
        .orderBy("doc_a", "doc_b")
    )


# The pair-enumeration form above is OUTPUT-quadratic on variant-
# clique corpora (measured: 83M pair rows on the perturbed sf10p
# corpus, SCALING.md) — ~K re-encodes of one base emit ~K²/2 pairs.
# The linear-output report for that shape is canonical ASSIGNMENT:
# components over the same confirmed-pair graph, one row per doc.
_PHASH_CLUSTERS_ORACLE = """
    WITH RECURSIVE pairs AS (
      {phash_pairs}
    ),
    rep_edges AS (
      -- project the noisy-variant channel back onto its base rep:
      -- a pair touching doc_id + offset witnesses the SAME payload
      -- relation for the underlying representative
      SELECT DISTINCT
        CASE WHEN doc_a >= {offset} THEN doc_a - {offset} ELSE doc_a END
          AS src,
        CASE WHEN doc_b >= {offset} THEN doc_b - {offset} ELSE doc_b END
          AS dst
      FROM pairs
      WHERE CASE WHEN doc_a >= {offset} THEN doc_a - {offset} ELSE doc_a
            END <>
            CASE WHEN doc_b >= {offset} THEN doc_b - {offset} ELSE doc_b
            END
    ),
    qualifying AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
      FROM documents
      WHERE {ascii_docs} AND length(text) >= 60
    ),
    edges AS (
      SELECT src, dst FROM rep_edges
      UNION ALL SELECT dst AS src, src AS dst FROM rep_edges
      UNION ALL SELECT doc_id, canon FROM qualifying WHERE doc_id <> canon
      UNION ALL SELECT canon, doc_id FROM qualifying WHERE doc_id <> canon
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM qualifying
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


@register(
    "mm_phash_clusters",
    oracle=_PHASH_CLUSTERS_ORACLE.format(
        phash_pairs=_PHASH_ORACLE.format(
            ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT
        ),
        offset=PHASH_VARIANT_OFFSET,
        ascii_docs=_ASCII_DOCS_SQL,
    ),
    doc="Canonical payload-cluster assignment — the LINEAR-OUTPUT "
        "form of mm_phash_neardup for corpora where pair enumeration "
        "is the wrong report (measured on the perturbed sf10p corpus: "
        "~100 re-encoded variants per base emit 83M pair rows, while "
        "this emits one row per document). The confirmed Hamming<=4 "
        "pair graph is projected back to base representatives (a pair "
        "touching a noisy-variant id witnesses the same relation for "
        "its rep), exact payload copies attach to their canonical rep "
        "by one edge per copy (linear, the dedup_clusters shape), and "
        "connected components (alternating large-star/small-star "
        "contraction, operators/graph.py — DISK_ONLY-checkpointed, "
        "edge-set fixpoint + star-forest check) label every "
        "qualifying document with its cluster's minimum doc_id — the "
        "id a keep-one policy keeps. Large-star collapses a k-clique "
        "to a star in round 1, so later rounds shuffle the CONTRACTED "
        "edge set (2.8x measured on the sf10p clique field). Oracle: "
        "recursive reachability closure + MIN over the same pair SQL, "
        "exactly as dedup_clusters pairs with dedup_minhash_lsh.",
    tags=("multimodal", "llm", "dedup", "graph"),
)
def mm_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from etl_spark.operators.graph import connected_components

    # ONE corpus scan + ONE md5-keyed exchange serve all three
    # consumers (r10 opt, guide §2.4 "remove shuffles outright" /
    # §1.2 fewer passes): the former shape ran mm_phash_neardup's
    # rep-collapse groupBy AND a separate full-row md5 window for the
    # qualifying/canon frame — two corpus scans, two md5-keyed
    # shuffles of the text payload. The groupBy form is also the
    # cheaper exchange: partial aggregation collapses exact-dup copies
    # map-side, so one row per distinct payload per map partition
    # crosses the wire, where the window shipped every copy.
    # DISK_ONLY checkpoint: three consumers (reps, exact edges,
    # vertices) would otherwise re-run the scan+aggregate each, and
    # data-sized heap blocks competing with CC's sorts is the measured
    # sf1 OOM (operators/graph.py).
    groups = (
        media_docs(spark, sf_dir, PHASH_MIN_LEN)
        .groupBy(F.md5("text").alias("payload_md5"))
        .agg(
            F.min("doc_id").alias("canon"),
            F.min("text").alias("text"),
            F.collect_list("doc_id").alias("members"),
        )
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    reps = groups.select(
        F.col("canon").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    pairs = _phash_band_pairs(perceptual_hash(reps, noisy_variant=True))

    def _base(col: str):
        c = F.col(col)
        return F.when(
            c >= PHASH_VARIANT_OFFSET, c - PHASH_VARIANT_OFFSET
        ).otherwise(c)

    rep_edges = (
        pairs.select(_base("doc_a").alias("src"), _base("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    exact_edges = (
        groups.select(F.col("canon"), F.explode("members").alias("src"))
        .filter(F.col("src") != F.col("canon"))
        .select("src", F.col("canon").alias("dst"))
    )
    vertices = groups.select(F.explode("members").alias("id"))
    return connected_components(
        vertices, rep_edges.unionByName(exact_edges)
    ).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Real pixel decode (stdlib BMP) + phash over decoded pixel grids
# ---------------------------------------------------------------------------

# Pixel-grid fixture: the document's bytes become a BMP_WIDTH-wide
# grayscale image (trailing partial row dropped), so n_pixels =
# (length // W) * W and the decoded top-down luminance bytes equal the
# first n_pixels text bytes — which is what lets DuckDB replay a REAL
# bitmap decode from text alone.
_PIXEL_PHASH_MIN_LEN = BMP_WIDTH * 3  # >= 3 full rows -> n_pixels >= 60

_BMP_DECODE_ORACLE = f"""
    SELECT doc_id,
           'image/bmp' AS mime,
           {BMP_WIDTH} AS width,
           CAST(length(text) // {BMP_WIDTH} AS INTEGER) AS height,
           24 AS bpp,
           CAST((length(text) // {BMP_WIDTH}) * {BMP_WIDTH} AS BIGINT)
             AS n_pixels,
           CAST(list_sum(list_transform(
             generate_series(1, (length(text) // {BMP_WIDTH}) * {BMP_WIDTH}),
             i -> ord(text[i]))) AS BIGINT) AS luma_sum,
           md5(substr(text, 1, (length(text) // {BMP_WIDTH}) * {BMP_WIDTH}))
             AS luma_md5
    FROM documents
    WHERE {{ascii_docs}} AND length(text) >= {BMP_WIDTH}
    ORDER BY doc_id
"""


@register(
    "mm_decode_bmp",
    oracle=_BMP_DECODE_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL),
    doc="REAL raster decode round-trip, stdlib-only: each document's "
        "bytes are encoded as a genuine uncompressed 24-bit BMP "
        "(BITMAPFILEHEADER + BITMAPINFOHEADER, BGR triplets, bottom-"
        "up rows, 4-byte row padding — operators/media.py build_bmp; "
        "any viewer opens it) and decoded back on the workers by a "
        "pure-struct header walk + numpy row matrix (decode_image): "
        "un-flip the bottom-up storage, strip padding, integer ITU-R "
        "601 luma per pixel. The oracle replays the decode from text "
        "alone because gray pixels make luma the identity — so a "
        "header-parse bug, a padding slip or a row-order mistake all "
        "hash-mismatch. Narrow Arrow map; payload bytes never "
        "shuffle. This is the sandbox-real analog of a PIL decode "
        "stage: swap _decode for Image.open and the plumbing — "
        "schema, batching, no-shuffle shape — is unchanged. "
        "(The reference ships no media surface; SURVEY.md north-star "
        "multimodal family.)",
    tags=("multimodal", "llm", "decode", "pandas-udf"),
)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _raster_decode(spark, sf_dir, with_bmp_payload)


def _raster_decode(spark: SparkSession, sf_dir: str, container) -> DataFrame:
    """The raster decode round trip of one container family: every
    document of at least one pixel row is encoded by ``container``
    (a ``with_*_payload`` fixture builder) and decoded back by
    ``decode_image``, which dispatches on magic bytes."""
    docs = media_docs(spark, sf_dir, BMP_WIDTH)
    return decode_image(container(docs)).orderBy("doc_id")


# Same replay as _PHASH_ORACLE, but the fingerprint input is the
# DECODED pixel grid: substr(text, 1, (length // W) * W) — the exact
# luminance byte sequence decode_image recovers from the BMP.
_PHASH_PIXELS_ORACLE = _PHASH_ORACLE.replace(
    """FROM documents
      WHERE {ascii_docs} AND length(text) >= 60""",
    f"""FROM (SELECT doc_id,
                   substr(text, 1,
                          (length(text) // {BMP_WIDTH}) * {BMP_WIDTH})
                     AS text
            FROM documents
            WHERE ({{ascii_docs}})
              AND length(text) >= {_PIXEL_PHASH_MIN_LEN})""",
)
assert _PHASH_PIXELS_ORACLE != _PHASH_ORACLE  # replace anchored


@register(
    "mm_phash_pixels_neardup",
    oracle=_PHASH_PIXELS_ORACLE.format(
        ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT
    ),
    doc="Perceptual-hash near-dup over REAL decoded pixel grids — "
        "mm_phash_neardup with the fingerprint moved from raw "
        "container bytes to the image itself: payloads are genuine "
        "24-bit BMPs, the phash stage struct-parses each one on the "
        "workers (bottom-up un-flip, padding strip, integer luma) and "
        "fingerprints the top-down luminance grid, so headers and "
        "serialization order can no longer leak into the hash and "
        "the SAME image stored top-down vs bottom-up fingerprints "
        "identically. Exact-dup collapse keys on the PIXEL grid "
        "(md5 of the truncated-to-rows byte prefix) — two files that "
        "decode to the same image are one representative. The noisy "
        "variant perturbs pixel VALUES (+1 per 17th luma sample), "
        "i.e. re-encode jitter applied where it physically lands. "
        "Banding, SMJ pair join and Hamming confirm are byte-variant-"
        "identical (shared _phash_band_pairs); the pigeonhole recall "
        "contract carries over unchanged. The oracle replays decode + "
        "fingerprint + banding from text because gray pixels make "
        "decoded luma equal the byte prefix — a decoder bug breaks "
        "the match.",
    tags=("multimodal", "llm", "dedup", "neardup", "decode",
          "pandas-udf"),
)
def mm_phash_pixels_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pixel_phash_pairs(spark, sf_dir, with_bmp_payload)


def _pixel_phash_pairs(
    spark: SparkSession, sf_dir: str, container
) -> DataFrame:
    """Phash near-dup pairs over decoded pixel grids of one container
    family: exact-dup collapse on the pixel grid (the text cut to whole
    BMP_WIDTH rows), ``container`` (a ``with_*_payload`` fixture
    builder) encodes each representative, and the fingerprint stage
    decodes it back before hashing."""
    px = F.expr(
        f"substring(text, 1, "
        f"CAST((length(text) div {BMP_WIDTH}) * {BMP_WIDTH} AS INT))"
    )
    reps = exact_reps(
        media_docs(spark, sf_dir, _PIXEL_PHASH_MIN_LEN).select(
            "doc_id", px.alias("text")
        )
    )
    hashed = perceptual_hash(
        container(reps), noisy_variant=True, pixel_decode=True
    )
    return _phash_band_pairs(hashed)


# PNG decode summary: same pixel grid contract as BMP (text bytes,
# BMP_WIDTH per row, trailing partial row dropped), different
# container — compressed (zlib IDAT) + per-row filtered instead of
# uncompressed bottom-up BGR. Gray samples ARE the luminance, so only
# mime and bpp differ from the BMP oracle.
_PNG_DECODE_ORACLE = _BMP_DECODE_ORACLE.replace(
    "'image/bmp' AS mime", "'image/png' AS mime"
).replace("24 AS bpp", "8 AS bpp")
assert _PNG_DECODE_ORACLE != _BMP_DECODE_ORACLE  # replace anchored


@register(
    "mm_decode_png",
    oracle=_PNG_DECODE_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL),
    doc="REAL compressed-raster decode round-trip, stdlib-only — the "
        "PNG sibling of mm_decode_bmp: each document's bytes are "
        "encoded as a genuine 8-bit grayscale PNG (signature, IHDR, "
        "zlib IDAT, IEND, verified CRCs; row y filtered with type "
        "y % 5 so every filter branch None/Sub/Up/Average/Paeth is "
        "load-bearing — operators/media.py build_png; any viewer "
        "opens it) and decoded back on the workers by a chunk walk + "
        "zlib inflate + per-row filter reconstruction (decode_image "
        "dispatches on magic bytes). Where BMP exercised the raster "
        "half of a real image pipeline (header geometry, row order, "
        "padding), PNG exercises the compressed half (entropy coding "
        "+ predictive filters). The oracle replays the decode from "
        "text alone because 8-bit gray samples make luma the "
        "identity — an unfilter bug in ANY of the five branches "
        "hash-mismatches, because every branch reconstructs rows of "
        "every image taller than 4 rows. Narrow Arrow map; payload "
        "bytes never shuffle. (The reference ships no media surface; "
        "SURVEY.md north-star multimodal family.)",
    tags=("multimodal", "llm", "decode", "pandas-udf"),
)
def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _raster_decode(spark, sf_dir, with_png_payload)


# Multimodal curation gate constants. MIN_PIXELS drops images smaller
# than 10 full rows (tiny payloads carry no trainable signal — the
# "resolution floor" every vision-data pipeline applies); the luma
# band is the blank/overexposed filter expressed as an exact integer
# cross-multiply (mean in [LO, HI] <=> LO*n <= sum <= HI*n).
MM_CURATE_MIN_PIXELS = BMP_WIDTH * 10
MM_CURATE_LUMA_LO = 32
MM_CURATE_LUMA_HI = 126

_MM_CURATE_ORACLE = f"""
    WITH decoded AS (
      SELECT doc_id,
             (length(text) // {BMP_WIDTH}) * {BMP_WIDTH} AS n_pixels,
             CAST(list_sum(list_transform(
               generate_series(1, (length(text) // {BMP_WIDTH}) * {BMP_WIDTH}),
               i -> ord(text[i]))) AS BIGINT) AS luma_sum,
             md5(substr(text, 1, (length(text) // {BMP_WIDTH}) * {BMP_WIDTH}))
               AS image_md5
      FROM documents
      WHERE {{ascii_docs}} AND length(text) >= {BMP_WIDTH}
    ),
    kept AS (
      SELECT * FROM decoded
      WHERE n_pixels >= {MM_CURATE_MIN_PIXELS}
        AND luma_sum >= {MM_CURATE_LUMA_LO} * n_pixels
        AND luma_sum <= {MM_CURATE_LUMA_HI} * n_pixels
    )
    SELECT image_md5,
           CAST(MIN(doc_id) AS BIGINT)   AS canonical_id,
           CAST(COUNT(*) AS BIGINT)      AS n_copies,
           CAST(MIN(n_pixels) AS BIGINT) AS n_pixels,
           CAST(MIN(luma_sum) AS BIGINT) AS luma_sum
    FROM kept
    GROUP BY image_md5
    ORDER BY image_md5
"""


def _bmp_png_payloads(docs: DataFrame) -> DataFrame:
    """The two-container mix of the container-blind queries: even
    doc_ids arrive as 24-bit BMP, odd ones as filtered+zlib PNG."""
    return with_bmp_payload(docs.where(F.col("doc_id") % 2 == 0)).unionAll(
        with_png_payload(docs.where(F.col("doc_id") % 2 == 1))
    )


@register(
    "pipeline_curate_multimodal",
    oracle=_MM_CURATE_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL),
    doc="END-TO-END multimodal curation — the image sibling of "
        "pipeline_curate_corpus: decode every payload (REAL codecs: "
        "even doc_ids arrive as 24-bit BMP, odd as filtered+zlib PNG "
        "— decode_image dispatches on magic bytes), gate on decoded "
        "image quality (resolution floor of "
        f"{MM_CURATE_MIN_PIXELS} pixels + blank/overexposed mean-luma "
        "band, both exact integer comparisons), then collapse exact "
        "image duplicates ON THE DECODED PIXEL GRID (md5 of the "
        "luminance bytes) to one canonical row with its copy count — "
        "so the same image stored in two different containers dedups "
        "together, which payload-byte hashing (mm_payload_dedup) "
        "cannot do. Spark shape: the text is spread over every core "
        "before each container's payloads are built (one round-robin "
        "Exchange per container), then a narrow Arrow decode map "
        "(payloads never cross an Exchange), an in-row gate and ONE "
        "data shuffle of decoded rows — the groupBy on the 32-char "
        "image hash. This is the manifest a "
        "multimodal training run reads: one row per distinct "
        "qualifying image. Oracle replays decode, gate and collapse "
        "from text because gray pixels make luma the identity.",
    tags=("multimodal", "llm", "curation", "dedup", "pipeline",
          "pandas-udf"),
)
def pipeline_curate_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = media_docs(spark, sf_dir, BMP_WIDTH)
    decoded = decode_image(_bmp_png_payloads(docs))
    kept = decoded.where(
        (F.col("n_pixels") >= MM_CURATE_MIN_PIXELS)
        & (F.col("luma_sum") >= MM_CURATE_LUMA_LO * F.col("n_pixels"))
        & (F.col("luma_sum") <= MM_CURATE_LUMA_HI * F.col("n_pixels"))
    )
    return (
        kept.groupBy(F.col("luma_md5").alias("image_md5"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_pixels").alias("n_pixels"),
            F.min("luma_sum").alias("luma_sum"),
        )
        .orderBy("image_md5")
    )


# 2x2 box-downsample replay: output pixel (r, c) is the floor-mean of
# the 2x2 input block; input pixel (y, x) is the 1-based text char at
# y*W + x + 1. Flattened output index i has r = i // W2, c = i % W2.
_THUMBNAIL_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text,
             (length(text) // {BMP_WIDTH}) // 2 AS h2
      FROM documents
      WHERE {{ascii_docs}} AND length(text) >= {2 * BMP_WIDTH}
    ),
    g AS (
      SELECT doc_id, h2,
             list_transform(
               generate_series(0, h2 * {BMP_WIDTH // 2} - 1),
               i -> (  ord(text[(i // {BMP_WIDTH // 2}) * {2 * BMP_WIDTH}
                             + (i % {BMP_WIDTH // 2}) * 2 + 1])
                     + ord(text[(i // {BMP_WIDTH // 2}) * {2 * BMP_WIDTH}
                             + (i % {BMP_WIDTH // 2}) * 2 + 2])
                     + ord(text[(i // {BMP_WIDTH // 2}) * {2 * BMP_WIDTH}
                             + {BMP_WIDTH} + (i % {BMP_WIDTH // 2}) * 2 + 1])
                     + ord(text[(i // {BMP_WIDTH // 2}) * {2 * BMP_WIDTH}
                             + {BMP_WIDTH} + (i % {BMP_WIDTH // 2}) * 2 + 2])
                    ) // 4) AS vals
      FROM d
    )
    SELECT doc_id,
           CAST({BMP_WIDTH // 2} AS INTEGER) AS out_w,
           CAST(h2 AS INTEGER) AS out_h,
           CAST(list_sum(vals) AS BIGINT) AS luma_sum,
           CAST(list_sum(list_transform(generate_series(1, len(vals)),
                                        j -> j * vals[j])) AS BIGINT)
             AS luma_wsum
    FROM g
    ORDER BY doc_id
"""


@register(
    "mm_thumbnail_box",
    oracle=_THUMBNAIL_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL),
    doc="REAL image transform: 2x2 box-downsample (thumbnailing) over "
        "DECODED pixel grids — the resize step every multimodal "
        "training pipeline runs before feature extraction, here in "
        "exact integer arithmetic (each output pixel is the floor-"
        "mean of its 2x2 block; odd trailing row/column cropped). "
        "Container-blindness is part of the contract: even doc_ids "
        "carry their image as an uncompressed 24-bit BMP, odd ones as "
        "a filtered+zlib 8-bit PNG, and the SAME downsample math must "
        "come out of both decoders (operators/media.py "
        "thumbnail_features dispatches on magic bytes). The position-"
        "weighted checksum (sum (i+1)*v[i] over the row-major output) "
        "is order-sensitive, so a transposed, flipped or mis-strided "
        "downsample cannot collide with the correct grid. Narrow "
        "Arrow map; payloads never shuffle; the downsample is four "
        "strided numpy views added, no Python per pixel. The oracle "
        "replays the block means from text because gray pixels make "
        "luma the identity.",
    tags=("multimodal", "llm", "transform", "decode", "pandas-udf"),
)
def mm_thumbnail_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import thumbnail_features

    payloads = _bmp_png_payloads(media_docs(spark, sf_dir, 2 * BMP_WIDTH))
    return thumbnail_features(payloads).orderBy("doc_id")


@register(
    "mm_phash_png_pixels_neardup",
    oracle=_PHASH_PIXELS_ORACLE.format(
        ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT
    ),
    doc="Perceptual-hash near-dup over pixel grids decoded from PNG "
        "containers — mm_phash_pixels_neardup with the payload swapped "
        "from uncompressed BMP to zlib-compressed, per-row-filtered "
        "PNG. The fingerprint stage dispatches on magic bytes and "
        "reconstructs the SAME top-down luminance grid from either "
        "container, so this query's oracle is BYTE-IDENTICAL to the "
        "BMP variant's — container-blindness is the contract: the "
        "same image re-containerized must band, pair and Hamming-"
        "confirm identically (tests/test_png_decode.py asserts "
        "fingerprint equality row-by-row across the two containers). "
        "Exact-dup collapse keys on the pixel grid before encoding; "
        "banding, SMJ pair join and Hamming confirm reuse "
        "_phash_band_pairs unchanged.",
    tags=("multimodal", "llm", "dedup", "neardup", "decode",
          "pandas-udf"),
)
def mm_phash_png_pixels_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pixel_phash_pairs(spark, sf_dir, with_png_payload)


# GIF decode summary: third container, same pixel grid contract —
# LZW-compressed color-indexed raster with a gray-identity palette,
# so index == luma and only the mime differs from the PNG oracle.
_GIF_DECODE_ORACLE = _PNG_DECODE_ORACLE.replace(
    "'image/png' AS mime", "'image/gif' AS mime"
)
assert _GIF_DECODE_ORACLE != _PNG_DECODE_ORACLE  # replace anchored


@register(
    "mm_decode_gif",
    oracle=_GIF_DECODE_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL),
    doc="REAL LZW-raster decode round-trip — the GIF89a sibling of "
        "mm_decode_bmp/mm_decode_png, third container in "
        "decode_image's magic-byte dispatch: each document's bytes "
        "are encoded as a genuine GIF (logical screen descriptor, "
        "256-entry gray-identity palette, image descriptor, "
        "variable-width LZW index stream in sub-blocks, trailer — "
        "operators/media.py build_gif; any viewer opens it) and "
        "decoded back on the workers by a block walk + a pure-Python "
        "GIF-LZW decoder (LSB-first variable-width codes, CLEAR "
        "resets, the KwKwK case, 12-bit cap with 4096-entry "
        "dictionary reset — all exercised by "
        "tests/test_gif_decode.py's stress roundtrips). Where PNG "
        "exercised predictive filtering + DEFLATE, GIF exercises "
        "dictionary coding — the third compression family a real "
        "decode stage meets. Oracle replays from text (gray-identity "
        "palette makes index == luma). Narrow Arrow map; payloads "
        "never shuffle.",
    tags=("multimodal", "llm", "decode", "pandas-udf"),
)
def mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _raster_decode(spark, sf_dir, with_gif_payload)


@register(
    "mm_phash_gif_pixels_neardup",
    oracle=_PHASH_PIXELS_ORACLE.format(
        ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT
    ),
    doc="Perceptual-hash near-dup over pixel grids decoded from GIF "
        "containers — the third leg of the container-blindness "
        "contract: this query's oracle is BYTE-IDENTICAL to the BMP "
        "and PNG variants' because the fingerprint stage reconstructs "
        "the SAME top-down luminance grid from any of the three "
        "containers (uncompressed BGR, filtered+DEFLATE, LZW). The "
        "same image re-containerized must band, pair and Hamming-"
        "confirm identically. Exact-dup collapse keys on the pixel "
        "grid before encoding; banding, SMJ pair join and Hamming "
        "confirm reuse _phash_band_pairs unchanged.",
    tags=("multimodal", "llm", "dedup", "neardup", "decode",
          "pandas-udf"),
)
def mm_phash_gif_pixels_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pixel_phash_pairs(spark, sf_dir, with_gif_payload)


_PHASH_GATE_ORACLE = """
    WITH side AS (
      -- arriving slice: every doc individually (each needs a verdict);
      -- history: exact-dup-collapsed representatives
      SELECT doc_id, text, length(text) AS n, 1 AS arriving
      FROM documents
      WHERE {ascii_docs} AND length(text) >= 60 AND doc_id % {gate_mod} = 0
      UNION ALL
      SELECT MIN(doc_id), MIN(text), MIN(length(text)), 0
      FROM documents
      WHERE {ascii_docs} AND length(text) >= 60 AND doc_id % {gate_mod} <> 0
      GROUP BY md5(text)
    ),
    segsum AS (
      SELECT r.doc_id, r.n, g.s,
             ((g.s + 1) * r.n) // {seg} - (g.s * r.n) // {seg} AS slen,
             COALESCE(list_sum(list_transform(
               generate_series((g.s * r.n) // {seg} + 1, ((g.s + 1) * r.n) // {seg}),
               i -> ord(r.text[i]))), 0) AS ssum
      FROM side r, UNNEST(generate_series(0, {seg_last})) AS g(s)
    ),
    tot AS (
      SELECT doc_id, SUM(ssum) AS dsum FROM segsum GROUP BY doc_id
    ),
    ph AS (
      SELECT g.doc_id,
             CAST(SUM(CASE WHEN g.ssum * g.n >= t.dsum * g.slen
                      THEN (CAST(1 AS BIGINT) << g.s) ELSE 0 END)
                  AS BIGINT) AS phash
      FROM segsum g JOIN tot t USING (doc_id)
      GROUP BY g.doc_id
    ),
    arr AS (
      SELECT s.doc_id, p.phash FROM side s JOIN ph p USING (doc_id)
      WHERE s.arriving = 1
    ),
    hist AS (
      SELECT s.doc_id AS hist_id, p.phash AS hist_phash
      FROM side s JOIN ph p USING (doc_id) WHERE s.arriving = 0
    ),
    ab AS (
      SELECT doc_id, phash, b.band_idx,
             (phash >> ({band_bits} * b.band_idx)) & {band_mask} AS band_val
      FROM arr, UNNEST(generate_series(0, {band_last})) AS b(band_idx)
    ),
    hb AS (
      SELECT hist_id, hist_phash, b.band_idx,
             (hist_phash >> ({band_bits} * b.band_idx)) & {band_mask} AS band_val
      FROM hist, UNNEST(generate_series(0, {band_last})) AS b(band_idx)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id, h.hist_id, a.phash, h.hist_phash
      FROM ab a JOIN hb h ON a.band_idx = h.band_idx
                         AND a.band_val = h.band_val
    ),
    best AS (
      SELECT doc_id, min_hamming, hist_id AS nearest_hist_id FROM (
        SELECT doc_id,
               CAST(bit_count(xor(phash, hist_phash)) AS INTEGER)
                 AS min_hamming,
               hist_id,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id
                 ORDER BY bit_count(xor(phash, hist_phash)), hist_id) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT a.doc_id, b.min_hamming, b.nearest_hist_id,
           COALESCE(b.min_hamming <= {ham}, FALSE) AS likely_dup
    FROM arr a LEFT JOIN best b USING (doc_id)
    ORDER BY a.doc_id
"""


@register(
    "mm_phash_history_gate",
    oracle=_PHASH_GATE_ORACLE.format(ascii_docs=_ASCII_DOCS_SQL, **_PHASH_FMT),
    doc="At-ingest perceptual-hash dup gate, batch form of the "
        "streaming twin (streaming/phash_gate.py): every arriving "
        "payload (the deterministic doc_id % 10 == 0 ingest slice) is "
        "fingerprinted and band-joined against the STATIC historical "
        "fingerprint index (exact-dup-collapsed % 10 != 0 docs); the "
        "verdict is the minimum Hamming distance over band-colliding "
        "history with a deterministic (hamming, hist_id) tie-break, "
        "flag at <= 4 — catching re-encodes of already-ingested "
        "content that md5 AND shingle gates are blind to. LEFT join "
        "keeps candidate-free docs in the output (admitted, flag "
        "false). Per-ingest cost is proportional to the batch x "
        "band-bucket occupancy, never history size re-paired; min is "
        "idempotent over duplicate multi-band candidates, so no dedup "
        "shuffle. The streaming twin runs THIS pipeline (shared "
        "gate_verdicts function) with a watermark + event-time window "
        "bolted on; stream-vs-batch parity is structural, proven "
        "row-for-row in tests/test_streaming_phash_gate.py.",
    tags=("multimodal", "llm", "dedup", "neardup", "incremental",
          "pandas-udf"),
)
def mm_phash_history_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.streaming.phash_gate import (
        PHASH_GATE_MOD,
        history_phash_index,
        phash_gate,
    )

    arriving = (
        media_docs(spark, sf_dir, PHASH_MIN_LEN)
        .filter(F.col("doc_id") % PHASH_GATE_MOD == 0)
        .select("doc_id", "text")
    )
    # Batch form pins the corpus-derived index side to spill-safe SMJ
    # (same discipline as every corpus pair join; the streaming twin
    # keeps the planner's stream-static join instead, where the stream
    # side is one micro-batch, not a corpus slice).
    return phash_gate(
        arriving, history_phash_index(spark, sf_dir).hint("merge")
    ).orderBy("doc_id")


_AUTOCORR_ORACLE = """
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE {ascii_docs} AND length(text) > 0
    ),
    s AS (
      SELECT doc_id, n,
             list_transform(generate_series(1, n),
                            i -> ord(text[i]) - 128) AS v
      FROM d
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(generate_series(1, n),
                i -> v[i] * v[i])) AS BIGINT) AS r0,
           {lag_cols},
           {norm_cols}
    FROM s
    ORDER BY doc_id
"""


def _autocorr_oracle() -> str:
    from etl_spark.operators.media import AUTOCORR_LAGS

    lag_cols = ",\n           ".join(
        f"CAST(CASE WHEN n > {L} THEN list_sum(list_transform("
        f"generate_series(1, n - {L}), i -> v[i] * v[i + {L}])) "
        f"ELSE 0 END AS BIGINT) AS r{L}"
        for L in AUTOCORR_LAGS
    )
    norm_cols = ",\n           ".join(
        f"CAST(CASE WHEN n > {L} THEN list_sum(list_transform("
        f"generate_series(1, n - {L}), i -> v[i] * v[i + {L}])) "
        f"ELSE 0 END AS DOUBLE) / "
        f"list_sum(list_transform(generate_series(1, n), i -> v[i] * v[i]))"
        f" AS norm_r{L}"
        for L in AUTOCORR_LAGS
    )
    return _AUTOCORR_ORACLE.format(
        ascii_docs=_ASCII_DOCS_SQL, lag_cols=lag_cols, norm_cols=norm_cols
    )


@register(
    "mm_audio_autocorr",
    oracle=_autocorr_oracle(),
    doc="Clip-level autocorrelation features over decoded audio — the "
        "classic periodicity/voicing signal (speech vs noise vs "
        "silence) a speech-curation pipeline computes after decode: "
        "each genuine WAV payload is decoded by the stdlib wave codec "
        "on the workers and r(L) = Σ s[i]·s[i+L] emitted for lags "
        "0/1/2/4 over centered samples, ALL exact int64 dot products "
        "(numpy, no Python loop), plus normalized r(L)/r(0) as single "
        "exact divisions — unlike spectral features, autocorrelation "
        "needs no libm, so the oracle replays it arithmetically from "
        "the fixture text (PCM = utf-8 bytes by construction, same "
        "contract as mm_audio_frame_energy). Plan: narrow Arrow "
        "decode map emitting ONE row per clip; the payload never "
        "shuffles; no joins, no windows — zero data-sized Exchanges.",
    tags=("multimodal", "llm", "audio", "pandas-udf"),
)
def mm_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.media import (
        AUTOCORR_LAGS,
        audio_autocorr,
        with_wav_payload,
    )

    docs = media_docs(spark, sf_dir, 1)
    feats = audio_autocorr(with_wav_payload(docs))
    norm = [
        (F.col(f"r{L}").cast("double") / F.col("r0")).alias(f"norm_r{L}")
        for L in AUTOCORR_LAGS
    ]
    return feats.select(
        "doc_id", "n_samples", "r0",
        *[F.col(f"r{L}") for L in AUTOCORR_LAGS],
        *norm,
    ).orderBy("doc_id")
