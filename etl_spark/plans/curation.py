"""Corpus-curation operators for training-data pipelines: denylist
redaction and corpus n-gram statistics (SURVEY.md §2.3 text-analysis
extension; the reference has no text operators at all).

Redaction at 100 TB is a pure narrow map — one regex pass per
document, no shuffle, no explode — which is why the redaction query's
plan must stay Exchange-free except the final presentation sort.
The n-gram counter is the opposite shape: a deliberate (n-1)×
row-multiplying explode feeding one hash aggregate, the same
explode-then-agg contract as text_top_terms.

Regex dialect note: Spark compiles Java regex, the DuckDB oracle
compiles RE2. The subset used here — character classes, alternation,
``\\b`` word boundaries (ASCII-word semantics in BOTH engines), bounded
quantifiers — behaves identically; lookarounds and backreferences are
banned from oracle-paired patterns because RE2 lacks them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.io import load
from etl_spark.plans.llm_dedup import PAIRS_SQL, SHINGLES_SQL, shingles_df
from etl_spark.plans.registry import register

# Denylist scrub: stand-in for the email/phone/SSN patterns a real
# pipeline runs (the synthetic corpus is digit-free, so a literal PII
# regex would be vacuously zero; the EMAIL_RE counter below keeps the
# true-PII pattern exercised for dialect parity anyway).
DENY_RE = r"\b(customer|spark|key)\b"
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
REDACTED = "[REDACTED]"


@register(
    "text_redact_denylist",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{DENY_RE}')) AS INTEGER)
             AS n_redacted,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER)
             AS n_email_like,
           substr(regexp_replace(text, '{DENY_RE}', '{REDACTED}', 'g'), 1, 80)
             AS redacted_prefix
    FROM documents
    ORDER BY doc_id
    """,
    doc="Denylist redaction scrub: per-document regexp_replace of "
        "sensitive terms plus match counting, the exact shape of a "
        "PII scrub (email counter included — zero on this corpus, but "
        "the pattern runs through both engines). Narrow map, zero "
        "shuffles before the presentation sort; the payload column is "
        "prefix-bounded so the result stays hashable. DuckDB needs "
        "the 'g' flag to match Spark's replace-all default.",
    tags=("text", "curation", "regex"),
)
def text_redact_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(F.regexp_extract_all("text", F.lit(DENY_RE))).alias("n_redacted"),
            F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE))).alias(
                "n_email_like"
            ),
            F.substring(
                F.regexp_replace("text", DENY_RE, REDACTED), 1, 80
            ).alias("redacted_prefix"),
        )
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "text_chunk_windows",
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
    doc=f"Sliding-window document chunking ({CHUNK_TOKENS}-token "
        f"chunks, stride {CHUNK_STRIDE} → {CHUNK_TOKENS - CHUNK_STRIDE}-"
        "token overlap): the standard context-window preparation step "
        "for embedding/training pipelines. Pure built-in HOFs — a "
        "stepped sequence of chunk starts exploded against a token "
        "slice — so the row-multiplying transform stays JVM-side; "
        "chunk boundaries clamp at the document tail in both engines.",
    tags=("text", "curation", "chunking"),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    chunk = F.expr(
        f"""
        explode(transform(
          sequence(1, size(t), {CHUNK_STRIDE}),
          s -> struct(
            CAST((s - 1) DIV {CHUNK_STRIDE} AS INT)          AS chunk_idx,
            array_join(slice(t, s, {CHUNK_TOKENS}), ' ')     AS chunk_text,
            CAST(LEAST({CHUNK_TOKENS}, size(t) - s + 1) AS INT) AS n_tokens
          )
        ))
        """
    ).alias("c")
    return (
        toks.select("doc_id", chunk)
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
        .orderBy("doc_id", "chunk_idx")
    )


MIN_TOKENS = 20
MIN_DISTINCT_RATIO = 0.3
SAMPLE_KEEP_BUCKETS = 32768  # of 65536 → deterministic 50% hash gate


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH dedup AS (
      SELECT doc_id, text, lang
      FROM (
        SELECT doc_id, text, lang,
               MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM documents WHERE text IS NOT NULL
      ) WHERE doc_id = canonical_id
    ),
    quality AS (
      SELECT doc_id, text, lang
      FROM dedup
      WHERE len(string_split(text, ' ')) >= {MIN_TOKENS}
        AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO}
    ),
    sampled AS (
      SELECT doc_id, text, lang FROM quality
      WHERE {md5_int_sql("CAST(doc_id AS VARCHAR)", 4)} < {SAMPLE_KEEP_BUCKETS}
    ),
    toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM sampled)
    SELECT doc_id, lang,
           CAST((s - 1) // {CHUNK_STRIDE} AS INTEGER)        AS chunk_idx,
           array_to_string(t[s:s + {CHUNK_TOKENS - 1}], ' ') AS chunk_text
    FROM toks, unnest(generate_series(1, len(t), {CHUNK_STRIDE})) AS g(s)
    ORDER BY doc_id, chunk_idx
    """,
    doc="The end-to-end training-data curation pipeline as ONE "
        "composed plan: exact dedup (md5 canonical window) → heuristic "
        "quality gate (length + lexical diversity) → deterministic "
        "50% hash-gate sample → overlapping context-window chunking. "
        "Total cost at any scale: ONE shuffle (the dedup window on the "
        "32-byte hash) — every other stage is a narrow map, and the "
        "quality/sample filters run BEFORE the row-multiplying chunk "
        "explode so the explode touches only surviving documents.",
    tags=("text", "curation", "pipeline", "dedup"),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from pyspark.sql import Window

    canonical = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    dedup = (
        docs.withColumn("canonical_id", canonical)
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id", "text", "lang")
    )
    toks = F.split("text", " ")
    quality = dedup.filter(
        (F.size(toks) >= MIN_TOKENS)
        & (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            >= MIN_DISTINCT_RATIO
        )
    )
    h16 = md5_int(F.col("doc_id").cast("string"), 4)
    sampled = quality.filter(h16 < SAMPLE_KEEP_BUCKETS)
    chunk = F.expr(
        f"""
        explode(transform(
          sequence(1, size(t), {CHUNK_STRIDE}),
          s -> struct(
            CAST((s - 1) DIV {CHUNK_STRIDE} AS INT)      AS chunk_idx,
            array_join(slice(t, s, {CHUNK_TOKENS}), ' ') AS chunk_text
          )
        ))
        """
    ).alias("c")
    return (
        sampled.select("doc_id", "lang", F.split("text", " ").alias("t"))
        .select("doc_id", "lang", chunk)
        .select("doc_id", "lang", "c.chunk_idx", "c.chunk_text")
        .orderBy("doc_id", "chunk_idx")
    )


TOP_N_BIGRAMS = 20


@register(
    "text_bigram_counts",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t
      FROM documents
      WHERE text IS NOT NULL
    ),
    bigrams AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
      WHERE len(t) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT {TOP_N_BIGRAMS}
    """,
    doc=f"Corpus bigram counts (n-gram LM statistics): adjacent-token "
        f"pairs via transform over an index sequence — guarded for "
        f"sub-2-token docs because Spark's sequence(1, 0) is the "
        f"DESCENDING [1, 0] while DuckDB's generate_series is empty "
        f"(the round-2 langid bug class). One explode (~token-count "
        f"row multiplier), one two-phase hash aggregate, "
        f"TakeOrdered top-{TOP_N_BIGRAMS}.",
    tags=("text", "ngram", "aggregation"),
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(F.split("text", " ").alias("t"))
    bigrams = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(TOP_N_BIGRAMS)
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap between a (small) eval
# split and the training corpus.
# --------------------------------------------------------------------------

# Hash-gated split: ~1/16 of documents act as the "benchmark" set.
# md5 is the one hash both engines share (the sampling convention from
# plans/sampling.py); keying on doc_id makes the split reproducible
# and independent of text content.
EVAL_SPLIT_PRED = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'"
DECONTAM_MIN_SHARED = 3


@register(
    "text_decontam_pairs",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    ev AS (
      SELECT doc_id, shingle,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_eval_sh
      FROM sh WHERE {EVAL_SPLIT_PRED}
    ),
    tr AS (
      SELECT doc_id, shingle
      FROM sh WHERE NOT ({EVAL_SPLIT_PRED})
    )
    SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(e.n_eval_sh) AS eval_overlap
    FROM ev e JOIN tr t ON e.shingle = t.shingle
    GROUP BY e.doc_id, t.doc_id
    HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
    ORDER BY eval_doc, train_doc
    """,
    doc="Benchmark decontamination (train/eval n-gram overlap): the "
        "documents table is hash-split into a ~1/16 'benchmark' set "
        "and the training corpus; any (eval, train) pair sharing >= "
        f"{DECONTAM_MIN_SHARED} distinct stop-filtered shingles is "
        "reported with its shared count and the fraction of the eval "
        "doc's shingles covered. This is the standard pre-training "
        "hygiene step (the GPT-3/PaLM 13-gram check, at the corpus's "
        "3-gram granularity). Scale shape: the eval side is tiny by "
        "construction (benchmarks are MBs, corpora are TBs) so it "
        "BROADCASTS — the training corpus streams through the join "
        "map-side and only matching pair rows reach the one "
        "aggregation shuffle; the shared stop-shingle df cap bounds "
        "per-shingle fan-out exactly as in dedup_jaccard_pairs.",
    tags=("text", "llm", "dedup", "curation"),
)
def text_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir)
    is_eval = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    ev = (
        sh.filter(is_eval)
        .withColumn(
            "n_eval_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
        .select(
            F.col("doc_id").alias("eval_doc"), "shingle", "n_eval_sh"
        )
    )
    tr = sh.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    pairs = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.first("n_eval_sh").alias("n_eval_sh"),
        )
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
    )
    return pairs.select(
        "eval_doc",
        "train_doc",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("n_eval_sh")).alias(
            "eval_overlap"
        ),
    ).orderBy("eval_doc", "train_doc")


# Shared bigram derivation for the LM-statistics queries (doc_id kept).
_DOC_BIGRAMS_SQL = """
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE text IS NOT NULL)
      WHERE len(t) >= 2
"""


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH big AS ({_DOC_BIGRAMS_SQL}),
    cnt AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
      FROM big GROUP BY bigram
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c.n) AS BIGINT) AS sum_bigram_freq,
           CAST(SUM(c.n) AS DOUBLE) / COUNT(*) AS mean_bigram_freq
    FROM big b JOIN cnt c ON b.bigram = c.bigram
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    doc="Count-based LM fluency score: each document's mean corpus "
        "frequency of its bigrams — the integer-exact stand-in for "
        "KenLM-style perplexity filtering (low score = bigrams the "
        "corpus has rarely seen = disfluent/outlier text; log-prob "
        "itself is banned from hashed outputs because ln() is not "
        "correctly-rounded). Two passes over the bigram stream: "
        "count, then join the counts back per doc — the join keys on "
        "the bigram vocabulary (bounded, Zipf-concentrated), and "
        "AQE's skew split covers the stop-bigram head. Sub-2-token "
        "docs have no bigrams and drop out in both engines.",
    tags=("text", "llm", "curation", "aggregation"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    big = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(t[i-1], ' ', t[i]))"
            )
        ).alias("bigram"),
    )
    cnt = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return (
        big.join(cnt, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n").alias("sum_bigram_freq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_bigram_freq",
            (
                F.col("sum_bigram_freq").cast("double")
                / F.col("n_bigrams")
            ).alias("mean_bigram_freq"),
        )
        .orderBy("doc_id")
    )


CTX_TOKENS = 256
N_SHARDS = 16
MIX_ALPHA = 0.7


@register(
    "curation_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    placed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM toks
    )
    SELECT doc_id, lang, n_tokens, start_offset,
           CAST(start_offset // {CTX_TOKENS} AS BIGINT) AS pack_id,
           CAST(CASE WHEN start_offset // {CTX_TOKENS}
                      <> (start_offset + n_tokens - 1) // {CTX_TOKENS}
                THEN 1 ELSE 0 END AS INTEGER) AS spans_boundary
    FROM placed
    ORDER BY lang, doc_id
    """,
    doc=f"Concatenate-and-chunk sequence packing (the GPT-style "
        f"pretraining prep step): documents are laid end-to-end per "
        f"language in doc_id order and cut into {CTX_TOKENS}-token "
        "context windows; each doc reports its window and whether it "
        "straddles a cut. The running offset is a window cumsum "
        "PARTITIONED BY the pack stream (lang) — never a global "
        "single-partition sort: at 100 TB each stream's window "
        "parallelizes across its partition, and more streams = more "
        "parallelism (a real pipeline packs per shard x language). "
        "Integer token counts only; no floats anywhere.",
    tags=("curation", "llm", "window"),
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_tokens(load(spark, sf_dir, "documents"))
    return _packed(toks, "lang", "doc_id").orderBy("lang", "doc_id")


def _doc_tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, lang, *keep, n_tokens): whitespace token count per
    document."""
    return docs.select(
        "doc_id",
        "lang",
        *keep,
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )


def _start_offsets(toks: DataFrame, stream: str, *order) -> DataFrame:
    """``toks`` plus ``start_offset``: the tokens laid before each row
    when the rows of each ``stream`` are concatenated in ``order``. A
    window cumsum PARTITIONED by the stream, never a global sort."""
    w = (
        Window.partitionBy(stream)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return toks.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )


def _packed(toks: DataFrame, stream: str, *order) -> DataFrame:
    """Concatenate-and-chunk packing: ``toks``' columns, its
    ``start_offset`` (``_start_offsets``), the CTX_TOKENS-token
    window it starts in (``pack_id``) and whether it crosses into the
    next one (``spans_boundary``)."""
    placed = _start_offsets(toks, stream, *order)
    pack_id = F.expr(f"start_offset div {CTX_TOKENS}")
    last_pack = F.expr(f"(start_offset + n_tokens - 1) div {CTX_TOKENS}")
    return placed.select(
        *toks.columns,
        "start_offset",
        pack_id.alias("pack_id"),
        F.when(pack_id != last_pack, 1).otherwise(0).cast("int").alias(
            "spans_boundary"
        ),
    )


@register(
    "curation_shard_assignment",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {md5_int_sql("CAST(doc_id AS VARCHAR)", 15)} % {N_SHARDS} AS shard_id
      FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM sharded
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    doc=f"Deterministic output sharding for training-data writes: "
        f"shard = md5(doc_id) mod {N_SHARDS} (content-independent, "
        "reshuffle-stable), reported as a per-shard balance audit "
        "(doc and token totals). The md5 gate is the same "
        "engine-portable hash used by the sampling family; at scale "
        "this column feeds df.write.partitionBy/repartition so every "
        "shard lands as one file set. Map-combinable aggregate, "
        f"{N_SHARDS}-row result.",
    tags=("curation", "llm", "aggregation"),
)
def curation_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    h60 = md5_int(F.col("doc_id").cast("string"), 15)
    sharded = docs.select(
        (h60 % N_SHARDS).alias("shard_id"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_doc_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
        .orderBy("shard_id")
    )


@register(
    "sample_mixture_weights",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
    weighted AS (
      SELECT lang, n_docs,
             CAST(n_docs AS DOUBLE) / n_total AS raw_share,
             pow(CAST(n_docs AS DOUBLE) / n_total, {MIX_ALPHA}) AS w
      FROM counts CROSS JOIN tot
    )
    SELECT lang, n_docs,
           CAST(ROUND(raw_share, 9) AS DOUBLE) AS raw_share,
           CAST(ROUND(w / (SELECT SUM(w) FROM weighted), 9) AS DOUBLE)
             AS sampled_share,
           CAST(ROUND((w / (SELECT SUM(w) FROM weighted)) / raw_share, 9)
                AS DOUBLE) AS upsample_factor
    FROM weighted
    ORDER BY lang
    """,
    doc=f"Temperature-based language mixture weights (alpha = "
        f"{MIX_ALPHA}, the multilingual-pretraining resampling rule): "
        "sampled share proportional to (n_l/N)^alpha — flattens the "
        "head, boosts the tail. Rounded to 9 decimals on both sides: "
        "pow() is a libm transcendental (not cross-engine "
        "bit-portable, same caveat as text_word_entropy's log2) and "
        "the normalizing sum runs over the config-sized language "
        "list. Two tiny aggregates; the corpus is scanned once.",
    tags=("curation", "llm", "sampling", "statistics"),
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"))
    weighted = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("raw_share"),
        F.pow(
            F.col("n_docs").cast("double") / F.col("n_total"), F.lit(MIX_ALPHA)
        ).alias("w"),
    )
    wsum = weighted.agg(F.sum("w").alias("w_sum"))
    return (
        weighted.crossJoin(F.broadcast(wsum))
        .select(
            "lang",
            "n_docs",
            F.round("raw_share", 9).cast("double").alias("raw_share"),
            F.round(F.col("w") / F.col("w_sum"), 9)
            .cast("double")
            .alias("sampled_share"),
            F.round((F.col("w") / F.col("w_sum")) / F.col("raw_share"), 9)
            .cast("double")
            .alias("upsample_factor"),
        )
        .orderBy("lang")
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    first_seen AS (
      SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc < s.doc_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_novel,
           CAST(CAST(SUM(CASE WHEN f.first_doc < s.doc_id THEN 0 ELSE 1 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS novelty
    FROM sh s JOIN first_seen f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="Per-document n-gram novelty: the fraction of a doc's shingles "
        "not seen in any LOWER-doc_id document (doc_id as ingestion "
        "order) — the streaming-corpus duplicate-content signal used "
        "to down-rank late near-copies without pairwise comparison at "
        "all. One first-seen aggregate over the shared (df-capped) "
        "shingle index, joined back on shingle — two shuffles keyed "
        "on shingle/doc, never any pair enumeration. Integer counts, "
        "one exact division.",
    tags=("curation", "llm", "dedup", "text"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(spark, sf_dir)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(first_seen, "shingle")
    novel = F.when(F.col("first_doc") < F.col("doc_id"), 0).otherwise(1)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            (F.sum(novel).cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "curation_gate_funnel",
    oracle=f"""
    WITH gated AS (
      SELECT
        CASE WHEN len(string_split(text, ' ')) >= {MIN_TOKENS}
             THEN 1 ELSE 0 END AS pass_length,
        CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO}
             THEN 1 ELSE 0 END AS pass_diversity,
        CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
             THEN 1 ELSE 0 END AS pass_dedup
      FROM documents WHERE text IS NOT NULL
    )
    SELECT
      CAST(COUNT(*) AS BIGINT)                          AS n_docs,
      CAST(SUM(pass_dedup) AS BIGINT)                   AS after_dedup,
      CAST(SUM(pass_dedup * pass_length) AS BIGINT)     AS after_length,
      CAST(SUM(pass_dedup * pass_length * pass_diversity) AS BIGINT)
                                                        AS after_diversity,
      CAST(CAST(SUM(pass_dedup * pass_length * pass_diversity) AS DOUBLE)
           / COUNT(*) AS DOUBLE)                        AS keep_rate
    FROM gated
    """,
    doc="Curation funnel report: how many documents survive each gate "
        "of pipeline_curate_corpus (dedup -> length -> lexical "
        "diversity), cumulatively, plus the final keep rate — the "
        "dashboard that tells a curator WHICH gate is eating the "
        "corpus before they ship a config change. Same gate "
        "definitions as the pipeline (constants shared), one window "
        "+ one global aggregate; the result is a single row at any "
        "corpus size.",
    tags=("curation", "llm", "aggregation"),
)
def curation_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    w = Window.partitionBy(F.md5("text"))
    gated = docs.select(
        F.when(F.size(toks) >= MIN_TOKENS, 1).otherwise(0).alias("pass_length"),
        F.when(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
            >= MIN_DISTINCT_RATIO,
            1,
        )
        .otherwise(0)
        .alias("pass_diversity"),
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("pass_dedup"),
    )
    keep = F.col("pass_dedup") * F.col("pass_length") * F.col("pass_diversity")
    return gated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("pass_dedup").cast("bigint").alias("after_dedup"),
        F.sum(F.col("pass_dedup") * F.col("pass_length"))
        .cast("bigint")
        .alias("after_length"),
        F.sum(keep).cast("bigint").alias("after_diversity"),
        (F.sum(keep).cast("double") / F.count(F.lit(1)))
        .cast("double")
        .alias("keep_rate"),
    )


SEG_TOKENS = 10  # non-overlapping segment width for sub-document dedup


@register(
    "curation_strip_dup_segments",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    segs AS (
      SELECT doc_id, CAST((s - 1) // {SEG_TOKENS} AS INTEGER) AS seg_idx,
             array_to_string(t[s:s + {SEG_TOKENS - 1}], ' ') AS seg_text
      FROM toks, unnest(generate_series(1, len(t), {SEG_TOKENS})) AS g(s)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg_text, ROW_NUMBER() OVER (
        PARTITION BY md5(seg_text) ORDER BY doc_id, seg_idx) AS occ
      FROM segs
    )
    SELECT doc_id,
           COALESCE(string_agg(seg_text, ' ' ORDER BY seg_idx)
                      FILTER (WHERE occ = 1), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_seg,
           CAST(COUNT(*) FILTER (WHERE occ = 1) AS BIGINT) AS n_kept
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    doc=f"Sub-document (segment-level) dedup with reassembly — the "
        "C4/CCNet-style boilerplate stripper: split each document into "
        f"non-overlapping {SEG_TOKENS}-token segments, hash them, keep "
        "only the corpus-wide FIRST occurrence of each distinct "
        "segment (ordered by doc_id, seg_idx), and stitch the "
        "survivors back into a cleaned document with per-doc retention "
        "counts. Catches repeated headers/footers/templates that "
        "whole-document dedup misses. Spark shape: two key-partitioned "
        "shuffles — first-occurrence via a window PARTITIONED BY the "
        "segment hash (never a global window), reassembly via "
        "groupBy(doc_id) with an in-row array_sort on seg_idx; the "
        "row-multiplying segmenter is a JVM-side HOF explode, and only "
        "hashes+segments shuffle, never full documents.",
    tags=("text", "curation", "dedup", "boilerplate"),
)
def curation_strip_dup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    seg = F.expr(
        f"""
        explode(transform(
          sequence(1, size(t), {SEG_TOKENS}),
          s -> struct(
            CAST((s - 1) DIV {SEG_TOKENS} AS INT)      AS seg_idx,
            array_join(slice(t, s, {SEG_TOKENS}), ' ') AS seg_text
          )
        ))
        """
    ).alias("s")
    segs = toks.select("doc_id", seg).select(
        "doc_id", "s.seg_idx", "s.seg_text"
    )
    w = Window.partitionBy(F.md5("seg_text")).orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("occ", F.row_number().over(w))
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("occ") == 1, F.struct("seg_idx", "seg_text"))
        )
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(kept, lambda x: x["seg_text"]), " "
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_seg"),
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("doc_id")
    )


TRAIN_PCT = 90  # content-hash split: md5(text) mod 100 < 90 -> train


@register(
    "curation_train_val_split",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CASE WHEN {md5_int_sql("text", 15)} % 100 < {TRAIN_PCT}
                  THEN 'train' ELSE 'val' END AS split
      FROM documents WHERE text IS NOT NULL
    ),
    doc_stats AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM labeled GROUP BY split
    ),
    tflags AS (
      SELECT md5(text) AS th,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS it,
             MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS iv
      FROM labeled GROUP BY th
    ),
    leaks AS (
      SELECT CAST(COALESCE(SUM(it * iv), 0) AS BIGINT) AS n_leaks
      FROM tflags
    ),
    sflags AS (
      SELECT shingle,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS it,
             MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS iv
      FROM (SELECT DISTINCT l.split, sh.shingle
            FROM ({SHINGLES_SQL}) sh JOIN labeled l USING (doc_id))
      GROUP BY shingle
    ),
    sstats AS (
      SELECT 'train' AS split,
             CAST(COALESCE(SUM(it), 0) AS BIGINT) AS n_shingles,
             CAST(COALESCE(SUM(it * iv), 0) AS BIGINT) AS n_shared
      FROM sflags
      UNION ALL
      SELECT 'val',
             CAST(COALESCE(SUM(iv), 0) AS BIGINT),
             CAST(COALESCE(SUM(it * iv), 0) AS BIGINT)
      FROM sflags
    )
    SELECT d.split, d.n_docs, d.n_tokens,
           l.n_leaks AS n_exact_dup_leaks,
           s.n_shingles, s.n_shared AS n_shared_shingles,
           CASE WHEN s.n_shingles > 0
                THEN CAST(s.n_shared AS DOUBLE) / s.n_shingles END
             AS leak_ratio
    FROM doc_stats d JOIN sstats s USING (split) CROSS JOIN leaks l
    ORDER BY d.split
    """,
    doc=f"Leakage-safe train/validation split with audit: documents "
        f"split {TRAIN_PCT}/{100 - TRAIN_PCT} by md5 of CONTENT (not "
        "doc_id), so byte-identical duplicates always co-assign — "
        "n_exact_dup_leaks recomputes the cross-split duplicate count "
        "from scratch and is 0 by construction (the receipt, not an "
        "assumption). Near-dup leakage is measured, not prevented: "
        "per split, the count of stop-filtered shingles also present "
        "in the other split and the resulting leak ratio — the number "
        "to watch before trusting a validation loss. Spark shape: "
        "hash gate is a narrow map; exact-dup and shingle audits are "
        "two hash aggregates on (hash → split flags) with bounded "
        "2-row/1-row outputs; the only data-sized shuffles are the "
        "audit groupBys, each key-partitioned.",
    tags=("curation", "llm", "sampling", "dedup"),
)
def curation_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.plans.llm_dedup import shingles_df

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h60 = md5_int("text", 15)
    labeled = docs.select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.when(h60 % 100 < TRAIN_PCT, "train").otherwise("val").alias("split"),
    )
    doc_stats = labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    is_train = (F.col("split") == "train").cast("int")
    is_val = (F.col("split") == "val").cast("int")
    leaks = (
        labeled.select(F.md5("text").alias("th"), "split")
        .groupBy("th")
        .agg(F.max(is_train).alias("it"), F.max(is_val).alias("iv"))
        .agg(
            F.coalesce(F.sum(F.col("it") * F.col("iv")), F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_leaks")
        )
    )
    sflags = (
        shingles_df(spark, sf_dir)
        .join(labeled.select("doc_id", "split"), "doc_id")
        .select("split", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.max(is_train).alias("it"), F.max(is_val).alias("iv"))
    )
    # Per-split shingle stats via the explode-both-flags trick: always
    # two candidate rows per shingle, presence-gated so absent splits
    # contribute zero (and shared is counted once per PRESENT side).
    sstats = (
        sflags.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("train").alias("split"),
                        F.col("it").alias("present"),
                    ),
                    F.struct(
                        F.lit("val").alias("split"),
                        F.col("iv").alias("present"),
                    ),
                )
            ).alias("e"),
            (F.col("it") * F.col("iv")).alias("both"),
        )
        .select("e.split", "e.present", "both")
        .groupBy("split")
        .agg(
            F.coalesce(F.sum("present"), F.lit(0))
            .cast("bigint")
            .alias("n_shingles"),
            F.coalesce(F.sum(F.col("present") * F.col("both")), F.lit(0))
            .cast("bigint")
            .alias("n_shared_shingles"),
        )
    )
    return (
        doc_stats.join(sstats, "split")
        .crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_tokens",
            "n_exact_dup_leaks",
            "n_shingles",
            "n_shared_shingles",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_shared_shingles").cast("double")
                / F.col("n_shingles"),
            ).alias("leak_ratio"),
        )
        .orderBy("split")
    )


# Candidate context lengths for the sweep below. Small on purpose:
# the synthetic docs are ~100-400 tokens, so these lengths exercise
# all three regimes (mostly-truncating, mixed, mostly-padding).
CTX_SWEEP = [128, 256, 512, 1024]
_CTX_SWEEP_SQL = ", ".join(str(c) for c in CTX_SWEEP)


@register(
    "curation_context_length_sweep",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    placed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM toks
    ),
    ls AS (SELECT CAST(unnest([{_CTX_SWEEP_SQL}]) AS INTEGER) AS ctx_len),
    docagg AS (
      SELECT l.ctx_len,
             CAST(COUNT(*) AS BIGINT)      AS n_docs,
             CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN p.start_offset // l.ctx_len
                        <> (p.start_offset + p.n_tokens - 1) // l.ctx_len
                       THEN 1 ELSE 0 END) AS BIGINT) AS pack_straddle_docs,
             CAST(SUM(CASE WHEN p.n_tokens > l.ctx_len THEN 1 ELSE 0 END)
                  AS BIGINT)                         AS trunc_docs,
             CAST(SUM(GREATEST(p.n_tokens - l.ctx_len, 0)) AS BIGINT)
                                                     AS trunc_tokens_lost,
             CAST(SUM(l.ctx_len - LEAST(p.n_tokens, l.ctx_len)) AS BIGINT)
                                                     AS pad_tokens
      FROM placed p CROSS JOIN ls l
      GROUP BY l.ctx_len
    ),
    langagg AS (
      SELECT l.ctx_len,
             CAST(SUM((t.tot + l.ctx_len - 1) // l.ctx_len) AS BIGINT)
               AS pack_windows
      FROM (SELECT lang, SUM(n_tokens) AS tot FROM toks GROUP BY lang) t
      CROSS JOIN ls l
      GROUP BY l.ctx_len
    )
    SELECT d.ctx_len, d.n_docs, d.total_tokens, g.pack_windows,
           d.pack_straddle_docs, d.trunc_docs, d.trunc_tokens_lost,
           d.pad_tokens
    FROM docagg d JOIN langagg g USING (ctx_len)
    ORDER BY d.ctx_len
    """,
    doc=f"Context-length decision sweep: for each candidate window "
        f"length {CTX_SWEEP}, the exact integer costs of the two "
        "standard batching strategies — PACK (concatenate per lang "
        "stream and cut: total windows + docs straddling a cut, i.e. "
        "attention-fragmentation) vs ONE-DOC-PER-SAMPLE (docs "
        "truncated, tokens lost to truncation, tokens burned as "
        "padding). This is the table a pipeline owner reads before "
        "fixing seq_len. Plan: ONE lang-partitioned cumsum window "
        "shared by all lengths, then the per-length flags come from a "
        "map-side explode of the constant length array (no join, no "
        "cartesian) into a map-combinable aggregate keyed by the "
        f"{len(CTX_SWEEP)}-value length — plus a lang-cardinality "
        "side aggregate for ceil-div window counts, joined at "
        f"{len(CTX_SWEEP)} rows. All-integer arithmetic end to end.",
    tags=("curation", "llm", "window", "aggregation"),
)
def curation_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = _doc_tokens(docs)
    placed = _start_offsets(toks, "lang", "doc_id")
    ctx = F.explode(
        F.array(*[F.lit(c).cast("int") for c in CTX_SWEEP])
    ).alias("ctx_len")
    per_doc = placed.select("lang", "n_tokens", "start_offset", ctx)
    straddle = (
        F.expr("start_offset div ctx_len")
        != F.expr("(start_offset + n_tokens - 1) div ctx_len")
    ).cast("int")
    docagg = per_doc.groupBy("ctx_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(straddle).cast("bigint").alias("pack_straddle_docs"),
        F.sum((F.col("n_tokens") > F.col("ctx_len")).cast("int"))
        .cast("bigint")
        .alias("trunc_docs"),
        F.sum(F.greatest(F.col("n_tokens") - F.col("ctx_len"), F.lit(0)))
        .cast("bigint")
        .alias("trunc_tokens_lost"),
        F.sum(F.col("ctx_len") - F.least(F.col("n_tokens"), F.col("ctx_len")))
        .cast("bigint")
        .alias("pad_tokens"),
    )
    langagg = (
        toks.groupBy("lang")
        .agg(F.sum("n_tokens").alias("tot"))
        .select(ctx, "tot")
        .groupBy("ctx_len")
        .agg(
            F.sum(F.expr("(tot + ctx_len - 1) div ctx_len"))
            .cast("bigint")
            .alias("pack_windows")
        )
    )
    return (
        docagg.join(F.broadcast(langagg), "ctx_len")
        .select(
            "ctx_len",
            "n_docs",
            "total_tokens",
            "pack_windows",
            "pack_straddle_docs",
            "trunc_docs",
            "trunc_tokens_lost",
            "pad_tokens",
        )
        .orderBy("ctx_len")
    )


LIFT_DECILES = 10
# The lift signal: membership in a Jaccard >= this near-dup pair
# (same bar as dedup_prefix_filter_pairs).
LIFT_NEARDUP_T = 0.5


@register(
    "curation_quality_lift",
    oracle=f"""
    {{PAIRS_SQL}},
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
              >= {{T}}
        UNION ALL
        SELECT doc_b FROM pairs
        WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
              >= {{T}}
      )
    ),
    scored AS (
      -- NULL text is unscorable and unrankable (the rank engine
      -- requires a non-null key; engines also disagree on NULL sort
      -- position) — excluded from calibration by contract
      SELECT d.doc_id,
             CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
               / len(string_split(d.text, ' ')) AS score,
             d.doc_id IN (SELECT doc_id FROM dup_docs) AS is_dup
      FROM documents d
      WHERE d.text IS NOT NULL
    ),
    tiled AS (
      SELECT score, is_dup,
             NTILE({{K}}) OVER (ORDER BY score, doc_id) AS decile
      FROM scored
    )
    SELECT CAST(decile AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dups,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_rate,
           MIN(score) AS score_lo,
           MAX(score) AS score_hi
    FROM tiled
    GROUP BY decile
    ORDER BY decile
    """.format(PAIRS_SQL=PAIRS_SQL, T=LIFT_NEARDUP_T,
               K=LIFT_DECILES),
    doc="Quality-signal lift table — the calibration check run before "
        "trusting a heuristic score as a curation gate: docs are "
        f"ranked by distinct-token ratio into {LIFT_DECILES} exact "
        "deciles and each decile reports its NEAR-DUP rate (membership "
        f"in a Jaccard ≥ {LIFT_NEARDUP_T} pair, the "
        "dedup_prefix_filter_pairs bar — the corpus has no exact dups "
        "at test scales, near-dup structure is the live signal). A "
        "flat dup_rate across deciles means the score carries no "
        "dedup information; concentrated lift justifies score-gated "
        "sampling. All stats are integers or single exact divisions; "
        "per-decile score bounds are MIN/MAX (order-independent), "
        "never a float mean. Plan: the global decile uses the "
        "two-phase prefix-rank (operators/ranking.py, same as "
        "customer_rfm_segments) — NO single-partition window however "
        "big the corpus; the dup-doc set reuses the prefix-filtered "
        "pair machinery and joins back as a LEFT semi-style flag.",
    tags=("curation", "llm", "quality", "lift"),
)
def curation_quality_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.ranking import (
        global_rank,
        ntile_from_rank,
    )
    from etl_spark.plans.llm_dedup import dedup_prefix_filter_pairs

    pairs = dedup_prefix_filter_pairs(spark, sf_dir)
    # explode(array(doc_a, doc_b)), not a union of two projections
    # (r10 opt): the union form planned the ENTIRE prefix-filter pair
    # subtree once per branch — the executed plan carried two copies
    # of the pair machinery (~2x the Exchanges) — while the map-side
    # explode reads it once and emits the same two rows per pair.
    dup_docs = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    toks = F.split(F.col("text"), " ")
    scored = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            (
                F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks)
            ).alias("score"),
        )
        .join(dup_docs, "doc_id", "left")
        .select(
            "doc_id", "score",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    ranked, totals = global_rank(scored, [("score", "doc_id", "rn")])
    tiled = ranked.select(
        "score", "is_dup",
        ntile_from_rank(F.col("rn"), totals["n"], LIFT_DECILES).alias(
            "decile"
        ),
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dups"),
            (
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_rate"),
            F.min("score").alias("score_lo"),
            F.max("score").alias("score_hi"),
        )
        .orderBy("decile")
    )



#: Epoch-expansion cap: no language repeats more than 4.000 epochs
#: even if inverse-frequency balancing asks for more (the standard
#: guard against boiling a tiny language into memorization).
MAX_EPOCHS_X1000 = 4000


@register(
    "curation_epoch_expand",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE text IS NOT NULL GROUP BY lang
    ),
    mx AS (SELECT MAX(n_docs) AS n_max FROM counts),
    per_lang AS (
      SELECT lang, n_docs,
             LEAST({MAX_EPOCHS_X1000}, (1000 * mx.n_max) // n_docs)
               AS epochs_x1000
      FROM counts, mx
    ),
    sized AS (
      SELECT d.doc_id, d.lang, p.epochs_x1000,
             CAST(p.epochs_x1000 // 1000
                  + CASE WHEN {md5_int_sql("d.text", 15)} % 1000 < p.epochs_x1000 % 1000
                         THEN 1 ELSE 0 END AS INTEGER) AS n_copies
      FROM (SELECT doc_id, lang, text
            FROM documents WHERE text IS NOT NULL) d
      JOIN per_lang p USING (lang)
    )
    SELECT doc_id, lang, epochs_x1000, n_copies,
           CAST(unnest(generate_series(1, n_copies)) AS INTEGER)
             AS copy_idx
    FROM sized
    """,
    doc="EPOCH EXPANSION — materialize the weighted training mix: each "
        "language is upsampled toward the largest language's doc count "
        "(inverse-frequency rebalancing, the temperature->0 limit of "
        "sample_mixture_weights' alpha sampling), capped at "
        f"{MAX_EPOCHS_X1000 / 1000} epochs. Per-language epochs are an "
        "EXACT rational on the x1000 lattice (integer div — no pow, no "
        "libm), and fractional epochs land as one extra copy for the "
        "md5-gated fraction of docs (deterministic across engines, "
        "re-runs, and partitionings — the same gate as the train/val "
        "split). Emits one row per (doc, copy) with copy_idx, i.e. the "
        "actual expanded corpus a packing stage consumes. Plan: one "
        "5-row language-count aggregate broadcast back, then a pure "
        "map-side sequence-explode — output is epochs-bounded "
        "(<= 4x corpus), NEVER pair-shaped; zero data-sized shuffles.",
    tags=("curation", "llm", "sampling", "mixing"),
)
def curation_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _epoch_copies(docs)


def _epoch_copies(docs: DataFrame, *carry: str) -> DataFrame:
    """The epoch expansion of a (doc_id, lang, text, *carry) frame: one
    row per (doc, copy) with ``doc_id``, ``lang``, ``carry``,
    ``epochs_x1000``, ``n_copies`` and ``copy_idx``. Per-language epochs
    are the x1000-lattice inverse-frequency factors capped at
    MAX_EPOCHS_X1000; the fractional part lands as one extra copy for
    the md5-gated fraction of docs."""
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    n_max = counts.agg(F.max("n_docs").alias("n_max"))
    # broadcast: 1-row global max + |distinct lang| = 5 rows, constant
    per_lang = counts.crossJoin(F.broadcast(n_max)).select(
        "lang",
        F.least(
            F.lit(MAX_EPOCHS_X1000).cast("bigint"),
            F.expr("(1000 * n_max) div n_docs"),
        ).alias("epochs_x1000"),
    )
    h60 = md5_int("text", 15)
    sized = (
        docs.select("doc_id", "lang", *carry, (h60 % 1000).alias("g"))
        .join(F.broadcast(per_lang), "lang")
        .select(
            "doc_id",
            "lang",
            *carry,
            "epochs_x1000",
            (
                F.expr("epochs_x1000 div 1000")
                + F.when(
                    F.col("g") < F.col("epochs_x1000") % 1000, 1
                ).otherwise(0)
            ).cast("int").alias("n_copies"),
        )
        # n_copies >= 1 by construction (epochs_x1000 >= 1000); the
        # guard keeps Spark's sequence(1, 0) = [1, 0] surprise out
        .filter(F.col("n_copies") >= 1)
    )
    return sized.select(
        *sized.columns,
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
    )


#: Parallel packing streams for the final-mix build (a real pipeline
#: packs per shard; more streams = more parallelism).
PACK_STREAMS = 8


@register(
    "pipeline_build_training_mix",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE text IS NOT NULL GROUP BY lang
    ),
    mx AS (SELECT MAX(n_docs) AS n_max FROM counts),
    per_lang AS (
      SELECT lang, LEAST({MAX_EPOCHS_X1000}, (1000 * mx.n_max) // n_docs)
               AS epochs_x1000
      FROM counts, mx
    ),
    sized AS (
      SELECT d.doc_id, d.lang, d.n_tokens,
             CAST(p.epochs_x1000 // 1000
                  + CASE WHEN {md5_int_sql("d.text", 15)} % 1000 < p.epochs_x1000 % 1000
                         THEN 1 ELSE 0 END AS INTEGER) AS n_copies
      FROM (SELECT doc_id, lang, text,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents WHERE text IS NOT NULL) d
      JOIN per_lang p USING (lang)
    ),
    expanded AS (
      SELECT doc_id, lang, n_tokens,
             CAST(unnest(generate_series(1, n_copies)) AS INTEGER)
               AS copy_idx
      FROM sized
    ),
    mixed AS (
      SELECT doc_id, copy_idx, lang, n_tokens,
             {md5_int_sql("CAST(doc_id AS VARCHAR) || '#' || CAST(copy_idx AS VARCHAR)", 15)}
               AS mix_key
      FROM expanded
    ),
    placed AS (
      SELECT doc_id, copy_idx, lang, n_tokens, mix_key,
             CAST(mix_key % {PACK_STREAMS} AS BIGINT) AS stream_id,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY mix_key % {PACK_STREAMS}
               ORDER BY mix_key, doc_id, copy_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM mixed
    )
    SELECT doc_id, copy_idx, lang, stream_id, n_tokens, start_offset,
           CAST(start_offset // {CTX_TOKENS} AS BIGINT) AS pack_id,
           CAST(CASE WHEN start_offset // {CTX_TOKENS}
                      <> (start_offset + n_tokens - 1) // {CTX_TOKENS}
                THEN 1 ELSE 0 END AS INTEGER) AS spans_boundary
    FROM placed
    """,
    doc="END-TO-END training-mix build — the pipeline_curate_corpus of "
        "data mixing: epoch-expand the corpus per language "
        "(curation_epoch_expand's exact x1000-lattice inverse-"
        "frequency epochs, md5-gated fractional copies), SHUFFLE the "
        "expanded copies deterministically (mix_key = 60-bit md5 of "
        f"(doc_id, copy_idx) — the reproducible global mix order), "
        f"fan them across {PACK_STREAMS} parallel packing streams by "
        "mix_key, and concatenate-and-chunk each stream into "
        f"{CTX_TOKENS}-token context windows (curation_pack_sequences' "
        "cut arithmetic). One row per placed copy with its stream, "
        "offset, window and straddle flag — the exact manifest a "
        "tokenizing writer consumes to emit final training shards. "
        "Plan: 5-row lang aggregate broadcast, map-side explode, ONE "
        "window cumsum PARTITIONED by stream (never a global sort; "
        "more streams = more parallelism at 100 TB). All integer "
        "arithmetic — the whole mix is bit-reproducible across "
        "engines, re-runs, and partitionings.",
    tags=("curation", "llm", "sampling", "mixing", "window",
          "pipeline"),
)
def pipeline_build_training_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    expanded = _epoch_copies(_doc_tokens(docs, "text"), "n_tokens").select(
        "doc_id", "lang", "n_tokens", "copy_idx"
    )
    mix_key = md5_int(
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("copy_idx").cast("string")
        ),
        15,
    )
    mixed = expanded.select(
        "doc_id", "copy_idx", "lang",
        (mix_key % PACK_STREAMS).alias("stream_id"),
        "n_tokens",
        mix_key.alias("mix_key"),
    )
    return _packed(mixed, "stream_id", "mix_key", "doc_id", "copy_idx").drop(
        "mix_key"
    )


# --------------------------------------------------------------------------
# Cross-split near-dup leakage pairs: the MinHash-LSH audit of the
# content-hash split. curation_train_val_split already *counts* shared
# shingles; this query finds the actual (train, val) candidate pairs
# and grades each by exact signature agreement — the pair-level audit
# a team runs before trusting a validation loss.
# --------------------------------------------------------------------------

from etl_spark.plans.llm_dedup import (  # noqa: E402
    N_HASHES,
    _band_rows_sql,
    _band_table,
    _minhash_signature_sql,
    _REP_DOCS_SQL,
    cached_signatures,
)

#: Minimum matching MinHash components (of N_HASHES=16) for a candidate
#: pair to count as a leak: 8/16 estimates Jaccard >= 0.5.
SIG_AGREE_MIN = 8

_SIG_AGREE_SQL = " + ".join(
    f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(16)
)

_SPLIT_SQL = f"""
    SELECT doc_id,
           CASE WHEN {md5_int_sql("text", 15)} % 100 < {TRAIN_PCT}
                THEN 'train' ELSE 'val' END AS split
    FROM ({_REP_DOCS_SQL})
"""


@register(
    "curation_split_leakage_pairs",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sig AS (
      {_minhash_signature_sql()}
    ),
    splits AS ({_SPLIT_SQL}),
    bands AS (
      {_band_rows_sql()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_t, b.doc_id AS doc_v
      FROM bands a
      JOIN splits sa ON sa.doc_id = a.doc_id AND sa.split = 'train'
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
      JOIN splits sb ON sb.doc_id = b.doc_id AND sb.split = 'val'
    ),
    agree AS (
      SELECT c.doc_t, c.doc_v,
             CAST({_SIG_AGREE_SQL} AS INTEGER) AS sig_agree
      FROM cand c
      JOIN sig x ON x.doc_id = c.doc_t
      JOIN sig y ON y.doc_id = c.doc_v
    )
    SELECT sig_agree,
           CAST(CASE WHEN sig_agree >= {SIG_AGREE_MIN} THEN 1 ELSE 0 END
                AS INTEGER)                          AS is_leak,
           CAST(COUNT(*) AS BIGINT)                  AS n_pairs,
           CAST(COUNT(DISTINCT doc_v) AS BIGINT)     AS n_val_docs
    FROM agree
    GROUP BY sig_agree
    ORDER BY sig_agree
    """,
    doc="Pair-level train/val leakage audit: LSH band buckets joined "
        "ACROSS the split boundary only (train bands x val bands on "
        "(band_idx, band_hash) — the same bucket join as "
        "dedup_minhash_lsh with one side restricted, never all-pairs), "
        "then each candidate pair graded by exact MinHash component "
        f"agreement; >= {SIG_AGREE_MIN}/{16} components (est. Jaccard "
        ">= 0.5) flags the val doc as leaked. Output is the bounded "
        "agreement histogram (<= 17 rows) with pair and distinct-val-"
        "doc counts — integer-exact on both engines. Shares the "
        "persisted rep-space band table and the map-side-derived "
        "signature frame with the dedup family, so the corpus is not "
        "re-scanned; the only new shuffles are the cross-split bucket "
        "join and the final tiny aggregate.",
    tags=("curation", "llm", "dedup", "lsh", "sampling"),
)
def curation_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.plans.llm_dedup import rep_docs

    h60 = md5_int("text", 15)
    splits = rep_docs(spark, sf_dir).select(
        "doc_id",
        F.when(h60 % 100 < TRAIN_PCT, "train").otherwise("val").alias("split"),
    )
    bands = _band_table(spark, sf_dir).join(splits, "doc_id")
    train_b = bands.filter(F.col("split") == "train").alias("a")
    val_b = bands.filter(F.col("split") == "val").alias("b")
    cand = (
        train_b.join(
            val_b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.doc_id").alias("doc_t"), F.col("b.doc_id").alias("doc_v")
        )
        .distinct()
    )
    # Session-cached (r10 opt, same fix as dedup_minhash_error): the
    # signatures join on BOTH pair sides, and the aliased copies share
    # no exchange — uncached, the posting explode + 16-way min
    # aggregate ran once per side. Measured at sf0.1 (interleaved
    # min-of-4): 4.23s → 3.93s.
    sig = cached_signatures(spark, sf_dir)
    x = sig.alias("x")
    y = sig.alias("y")
    agree_expr = sum(
        (F.col(f"x.s{i}") == F.col(f"y.s{i}")).cast("int")
        for i in range(N_HASHES)
    )
    agree = (
        cand.join(x, cand.doc_t == F.col("x.doc_id"))
        .join(y, cand.doc_v == F.col("y.doc_id"))
        .select("doc_t", "doc_v", agree_expr.cast("int").alias("sig_agree"))
    )
    return (
        agree.groupBy("sig_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("doc_v").alias("n_val_docs"),
        )
        .select(
            "sig_agree",
            F.when(F.col("sig_agree") >= SIG_AGREE_MIN, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_leak"),
            "n_pairs",
            "n_val_docs",
        )
        .orderBy("sig_agree")
    )


# --------------------------------------------------------------------------
# Domain reweighting (DoReMi-style multiplicative-weights step).
# sample_mixture_weights is the STATIC temperature rule; this is the
# FEEDBACK rule: domains with higher excess loss (quality deficit
# proxy) get exponentially upweighted from the natural share, then the
# distribution is smoothed toward uniform — one deterministic step of
# the published Group-DRO / DoReMi weight update, expressed as two tiny
# aggregates over one corpus scan.
# --------------------------------------------------------------------------

REWEIGHT_ETA = 1.0  # multiplicative-weights step size
REWEIGHT_EPS = 0.1  # uniform smoothing mix (DoReMi's epsilon)

#: Per-doc quality proxy, exact integer-derived ratio (same definition
#: as text_quality_score.distinct_ratio): lexical diversity.
_QUAL_SQL = (
    "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    " / len(string_split(text, ' '))"
)


@register(
    "sample_domain_reweight_step",
    oracle=f"""
    WITH per AS (
      -- qual = exact DECIMAL sum of the per-doc ratios, ONE double
      -- division at the end: a float AVG is summation-order-dependent
      -- and the 10x contract drive (64 shuffle partitions) measured it
      -- crossing the round-to-9 boundary; the decimal sum is
      -- order-free and deterministic per engine. (Not bit-identical
      -- ACROSS engines: Spark and DuckDB round double->decimal
      -- differently — shortest-repr vs binary expansion — leaving a
      -- sub-ulp residual after the final division; a corpus landing
      -- within ~1 ulp of the round-to-9 boundary could still flip.)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST({_QUAL_SQL} AS DECIMAL(27,18))) AS DOUBLE)
               / COUNT(*) AS qual
      FROM documents WHERE text IS NOT NULL
      GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT)    AS n_domains,
             MIN(1 - qual)               AS min_loss
      FROM per
    ),
    w AS (
      SELECT lang, n_docs, n_domains,
             CAST(n_docs AS DOUBLE) / n_total AS raw_share,
             (1 - qual) - min_loss AS excess,
             (CAST(n_docs AS DOUBLE) / n_total)
               * exp({REWEIGHT_ETA} * ((1 - qual) - min_loss)) AS mw
      FROM per CROSS JOIN tot
    )
    SELECT lang, n_docs,
           CAST(ROUND(raw_share, 9) AS DOUBLE) AS raw_share,
           CAST(ROUND(excess, 9) AS DOUBLE)    AS excess_loss,
           CAST(ROUND((1 - {REWEIGHT_EPS}) * mw / (SELECT SUM(mw) FROM w)
                      + {REWEIGHT_EPS} / n_domains, 9) AS DOUBLE)
             AS reweighted_share,
           CAST(ROUND(((1 - {REWEIGHT_EPS}) * mw / (SELECT SUM(mw) FROM w)
                       + {REWEIGHT_EPS} / n_domains) / raw_share, 9)
                AS DOUBLE)
             AS upsample_factor
    FROM w
    ORDER BY lang
    """,
    doc="One DoReMi-style domain-reweighting step: per-language excess "
        "loss (1 - mean lexical diversity, baselined at the best "
        "domain) drives a multiplicative-weights update of the natural "
        f"shares (eta = {REWEIGHT_ETA}), normalized and smoothed "
        f"toward uniform (eps = {REWEIGHT_EPS}) — the published "
        "Group-DRO update that sample_mixture_weights' static "
        "temperature rule approximates. One corpus scan into a "
        "|langs|-row aggregate; every cross after that is a 1-row "
        "scalar or the k-language table. exp() is libm (same caveat "
        "as the pow in sample_mixture_weights), so both engines round "
        "to 9 decimals.",
    tags=("curation", "llm", "sampling", "statistics"),
)
def sample_domain_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    qual = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    # Exact decimal sum + one double division (mirrors the oracle): a
    # float AVG re-orders with the partitioning — the sf1 drive caught
    # a round-to-9 flip — while the decimal sum is order-free.
    per = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(qual.cast("decimal(27,18)")).cast("double")
            / F.count(F.lit(1))
        ).alias("qual"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("n_total"),
        F.count(F.lit(1)).alias("n_domains"),
        F.min(F.lit(1) - F.col("qual")).alias("min_loss"),
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_domains",
        (F.col("n_docs").cast("double") / F.col("n_total")).alias("raw_share"),
        ((F.lit(1) - F.col("qual")) - F.col("min_loss")).alias("excess"),
        (
            (F.col("n_docs").cast("double") / F.col("n_total"))
            * F.exp(
                F.lit(REWEIGHT_ETA)
                * ((F.lit(1) - F.col("qual")) - F.col("min_loss"))
            )
        ).alias("mw"),
    )
    msum = w.agg(F.sum("mw").alias("mw_sum"))
    smoothed = (
        F.lit(1 - REWEIGHT_EPS) * F.col("mw") / F.col("mw_sum")
        + F.lit(REWEIGHT_EPS) / F.col("n_domains")
    )
    return (
        w.crossJoin(F.broadcast(msum))
        .select(
            "lang",
            "n_docs",
            F.round("raw_share", 9).cast("double").alias("raw_share"),
            F.round("excess", 9).cast("double").alias("excess_loss"),
            F.round(smoothed, 9).cast("double").alias("reweighted_share"),
            F.round(smoothed / F.col("raw_share"), 9)
            .cast("double")
            .alias("upsample_factor"),
        )
        .orderBy("lang")
    )
