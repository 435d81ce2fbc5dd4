"""Text analysis over the `documents` table (SURVEY.md §2.3).

Token statistics, corpus term rollups, quality heuristics, and
document fingerprinting — the text half of the LLM-data-pipeline
operator set. Everything is built-in array/string expressions
(whole-stage codegen, zero Python UDFs); ranking scores are kept in
integer space (tf, df) rather than floating idf so the oracle hash is
engine-exact (ln() is not correctly-rounded and may differ in the last
ulp between JVM and C runtimes).

Scale: token explosion is the classic row-multiplier — at 100 TB the
explode → groupBy(term) pipeline is a single shuffle keyed on term;
skewed head terms (stopwords) are exactly the AQE skew-split case, and
the per-doc statistics variants never explode at all (array functions
evaluate in-place per row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.io import load
from etl_spark.plans.registry import register

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_col():
    """Whitespace tokenization of ``text`` as an array column (shared
    definition)."""
    return F.split(F.col("text"), " ")


@register(
    "text_token_stats",
    oracle="""
    SELECT
      doc_id,
      n_chars,
      CAST(len(string_split(text, ' ')) AS INTEGER)                AS n_tokens,
      CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
      CAST(length(replace(text, ' ', '')) AS INTEGER)              AS n_alpha_chars,
      CAST(length(replace(text, ' ', '')) AS DOUBLE)
        / len(string_split(text, ' '))                             AS avg_token_len
    FROM documents
    """,
    doc="Per-document token statistics (token counting for training-data "
        "curation): counts stay in-row via array functions — no explode, "
        "no shuffle, embarrassingly parallel at any scale.",
    tags=("text", "llm"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens_col()
    n_alpha = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        n_alpha.alias("n_alpha_chars"),
        (n_alpha.cast("double") / F.size(toks)).alias("avg_token_len"),
    )


@register(
    "text_top_terms",
    oracle="""
    SELECT term,
           COUNT(*)                 AS n_occurrences,
           COUNT(DISTINCT doc_id)   AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    )
    GROUP BY term
    ORDER BY n_occurrences DESC, term ASC
    LIMIT 25
    """,
    doc="Corpus term frequencies (tf + document frequency): explode → "
        "groupBy(term) → top-k. The tf/df integer pair is the ranking "
        "basis for TF-IDF without cross-engine-unstable ln().",
    tags=("text", "llm", "aggregation"),
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(25)
    )


TFIDF_TOP_N = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(df.df AS BIGINT) AS df,
             CAST(tf.tf AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, tf, df, score, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= {TFIDF_TOP_N}
    """,
    doc=f"Per-document TF-IDF term ranking (SURVEY.md §2.3 'TF-IDF via "
        "joins+aggs'): tf per (doc, term), document frequency per term, "
        "joined back and ranked per doc — top "
        f"{TFIDF_TOP_N} most-characteristic terms each. The score is "
        "tf/df (one exact IEEE division of integers — same per-doc "
        "ranking as tf·idf with idf = 1/df, but engine-exact, unlike "
        "ln()-based idf whose last ulp differs between runtimes). "
        "Two shuffles (term, doc) regardless of corpus size.",
    tags=("text", "llm", "tfidf", "join"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df via a term-partitioned window over tf, not a groupBy + self
    # join (r10 opt): the join form evaluated the tf subtree (explode
    # + aggregate) once per side with zero exchange reuse; the window
    # computes the same per-term doc count from ONE evaluation and
    # drops the join entirely (explain: 2 explode passes + 4 Exchanges
    # → 1 pass + 3 Exchanges). The window sort spills like the join's
    # SMJ would, so a hot term degrades identically at scale.
    w_df = Window.partitionBy("term")
    scored = tf.select(
        "doc_id",
        "term",
        "tf",
        F.count(F.lit(1)).over(w_df).alias("df"),
    ).withColumn("score", F.col("tf").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_N)
        .select("doc_id", "term", "tf", "df", "score", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "text_lang_source_rollup",
    oracle="""
    SELECT
      lang,
      source,
      COUNT(*)                             AS n_docs,
      CAST(SUM(n_chars) AS BIGINT)         AS total_chars,
      CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    doc="Corpus composition rollup by language and source — the first "
        "query any dataset curator runs.",
    tags=("text", "llm", "aggregation"),
)
def text_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      CAST(len(list_filter(string_split(text, ' '),
               t -> list_contains({list(STOPWORDS)!r}, t))) AS INTEGER)
                                                    AS n_stopwords,
      CAST(len(list_filter(string_split(text, ' '),
               t -> list_contains({list(STOPWORDS)!r}, t))) AS DOUBLE)
        / len(string_split(text, ' '))              AS stopword_ratio,
      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' '))              AS distinct_ratio,
      CASE WHEN len(string_split(text, ' ')) < 20 THEN 1 ELSE 0 END AS is_short
    FROM documents
    """,
    doc="Heuristic quality scoring for filtering (stopword density, "
        "lexical diversity, short-doc flag) — per-row array math, "
        "integer-derived ratios only.",
    tags=("text", "llm", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "distinct_ratio"
        ),
        F.when(F.size(toks) < 20, 1).otherwise(0).alias("is_short"),
    )


REP_DUP_TOKEN_MAX = 0.7  # Gopher-style: too few distinct tokens = boilerplate
REP_TOP_BIGRAM_MAX = 0.2  # one bigram dominating = templated/spammy text


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    base AS (
      SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1]) AS bigrams
      FROM toks
    ),
    bg AS (
      SELECT doc_id, n_tokens, n_distinct, unnest(bigrams) AS bigram
      FROM base
    ),
    cnt AS (
      SELECT doc_id, n_tokens, n_distinct, bigram, COUNT(*) AS c
      FROM bg GROUP BY ALL
    ),
    agg AS (
      SELECT doc_id, n_tokens, n_distinct,
             MAX(c) AS mx,
             CAST(SUM(c) AS BIGINT) AS tot,
             CAST(COALESCE(SUM(c) FILTER (WHERE c >= 2), 0) AS BIGINT) AS dup
      FROM cnt GROUP BY ALL
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
           CAST(mx AS DOUBLE) / tot AS top_bigram_share,
           CAST(dup AS DOUBLE) / tot AS dup_bigram_frac,
           CAST(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens
                  > {REP_DUP_TOKEN_MAX}
                OR CAST(mx AS DOUBLE) / tot > {REP_TOP_BIGRAM_MAX}
                AS INTEGER) AS repetition_fail
    FROM agg
    """,
    doc="Gopher/C4-style repetition quality signals per document: "
        "duplicate-token fraction, most-frequent-bigram share, and the "
        "fraction of bigram occurrences belonging to repeated bigrams, "
        "plus a threshold flag — the standard pre-training boilerplate/"
        "spam filter. Shuffle-free: bigram counts are run-lengths of "
        "the SORTED in-row bigram array (array_sort + F.aggregate "
        "scan), so the plan is a narrow map over the scan — no explode, "
        "no groupBy, nothing leaves its document at any scale. All "
        "ratios are single divisions of exact integer counts, hence "
        "hash-stable. Documents with fewer than two tokens are "
        "filtered out up front (the oracle's unnest drops them too), "
        "which also keeps sequence(1, n-1) ascending — the "
        "descending-sequence bogus-n-gram trap the round-2 advice "
        "flagged on text_langid_ngram.",
    tags=("text", "llm", "quality", "curation"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All three signals are PER-DOCUMENT, so no row should ever leave
    # its document: instead of explode -> two shuffled groupBys (a
    # ~200x row multiplication at this corpus' token counts), sort the
    # bigram array in-row and run-length-scan it with F.aggregate. The
    # whole query is then a narrow map over the parquet scan — zero
    # shuffles at any scale. Two pitfalls encoded here: (1) the token
    # array is materialized in its own projection first, because
    # element_at(split(text), i) inside a transform() lambda re-runs
    # the split per element — O(n²) per document (profiled at ~10x);
    # (2) the run-length sentinel "" can never collide with a real
    # bigram (every bigram contains the joining space).
    toks = F.col("toks")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    base = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens_col().alias("toks"))
        .filter(n >= 2)  # <2 tokens: no bigrams; both engines drop the doc
        .select(
            "doc_id",
            n.alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.array_sort(bigrams).alias("bg"),
        )
    )
    zero = F.lit(0).cast("bigint")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("mx"), zero.alias("dup")
    )

    def step(acc, x):
        same = x == acc["prev"]
        run_done = F.when(acc["run"] >= 2, acc["run"]).otherwise(zero)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.when(same, acc["mx"]).otherwise(F.greatest(acc["mx"], acc["run"])).alias("mx"),
            F.when(same, acc["dup"]).otherwise(acc["dup"] + run_done).alias("dup"),
        )

    def finish(acc):
        run_done = F.when(acc["run"] >= 2, acc["run"]).otherwise(zero)
        return F.struct(
            F.greatest(acc["mx"], acc["run"]).alias("mx"),
            (acc["dup"] + run_done).alias("dup"),
        )

    agg = base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.size("bg").cast("bigint").alias("tot"),
        F.aggregate("bg", acc0, step, finish).alias("r"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "tot",
        F.col("r.mx").alias("mx"),
        F.col("r.dup").alias("dup"),
    )
    dup_token_frac = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / F.col(
        "n_tokens"
    )
    top_bigram_share = F.col("mx").cast("double") / F.col("tot")
    return agg.select(
        "doc_id",
        "n_tokens",
        dup_token_frac.alias("dup_token_frac"),
        top_bigram_share.alias("top_bigram_share"),
        (F.col("dup").cast("double") / F.col("tot")).alias("dup_bigram_frac"),
        (
            (dup_token_frac > REP_DUP_TOKEN_MAX)
            | (top_bigram_share > REP_TOP_BIGRAM_MAX)
        )
        .cast("int")
        .alias("repetition_fail"),
    )


BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "text_token_count_bpe_regex",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER)          AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INTEGER)
                                                                  AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS DOUBLE)
             / len(string_split(text, ' '))                       AS fertility
    FROM documents
    """,
    doc="Token counting two ways: whitespace and a BPE-ish regex "
        "(letter runs / digit runs / single punctuation — the "
        "pre-tokenization shape BPE vocabularies start from), plus the "
        "fertility ratio between them. Pattern restricted to a "
        "regex-dialect-neutral subset so Java regex and RE2 agree.",
    tags=("text", "llm", "tokens"),
)
def text_token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    bpe = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    ws = F.split(F.col("text"), " ")
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(ws).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.size(bpe).cast("double") / F.size(ws)).alias("fertility"),
    )


LANGID_TOP_TRIGRAMS = 20


@register(
    "text_langid_ngram",
    oracle=f"""
    WITH tri_all AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, length(text) - 2),
                                   i -> substr(text, i, 3))) AS tri
      FROM documents
    ),
    profile AS (
      -- lang IS NOT NULL: an unlabeled document cannot teach a
      -- language profile (and a NULL candidate would tiebreak
      -- differently across engines: Spark sorts NULLS FIRST on ASC,
      -- DuckDB NULLS LAST).
      SELECT lang, tri FROM (
        SELECT lang, tri, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, tri ASC) AS rk
        FROM tri_all WHERE lang IS NOT NULL GROUP BY lang, tri
      ) WHERE rk <= {LANGID_TOP_TRIGRAMS}
    ),
    doc_tri AS (
      SELECT DISTINCT doc_id, lang AS actual_lang, tri FROM tri_all
    ),
    scored AS (
      SELECT d.doc_id, d.actual_lang, p.lang AS candidate_lang,
             COUNT(*) AS score
      FROM doc_tri d JOIN profile p ON d.tri = p.tri
      GROUP BY d.doc_id, d.actual_lang, p.lang
    )
    SELECT doc_id, actual_lang, candidate_lang AS predicted_lang,
           CAST(score AS BIGINT) AS score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, candidate_lang ASC) AS rn
      FROM scored
    )
    WHERE rn = 1
    """,
    doc="Character-trigram language identification: per-language top-"
        f"{LANGID_TOP_TRIGRAMS} trigram profiles learned from the labeled "
        "corpus itself, documents classified by profile overlap (argmax "
        "with deterministic tiebreak). Integer scores only — fully "
        "oracle-checkable. The profile is a tiny broadcast table at any "
        "corpus size.",
    tags=("text", "llm", "langid"),
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # The profile pass keeps a spread repartition: at local SFs the
    # documents table is ONE input split, and the trigram explode is
    # the pass's only real work — unspread it runs single-threaded
    # (measured 2.0 s vs 0.9 s at sf0.1/32c). The scoring pass below
    # deliberately does NOT inherit it.
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    # Guard: F.sequence(1, len-2) DESCENDS when len(text) < 3 ([1,0,-1]),
    # emitting bogus trigrams where the oracle's generate_series is empty.
    tri = F.when(
        F.length("text") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tri_all = spread.select(
        "doc_id", F.col("lang"), F.explode(tri).alias("tri")
    )
    # Two passes over the raw explode, neither doc-keyed (r10 opt,
    # guide §2.3 "aggregate before you shuffle"): the former shape
    # collapsed the explode into a persisted (doc_id, lang, tri, n)
    # count table — a corpus-sized cached intermediate whose shuffle
    # carried one row per DISTINCT doc-trigram (~712k at sf0.1) and
    # whose two consumers each re-scanned the cache. Now the profile
    # aggregates straight to the (lang, tri) key — partial aggregation
    # collapses each map partition to ~|distinct tri| rows before the
    # exchange — and the scoring pass prunes the explode with the
    # broadcast profile BEFORE anything doc-keyed happens, so the
    # per-doc aggregate only ever sees profile-matching trigrams
    # (≤ langs × top-k distinct values). Measured at sf0.1: 1.94s →
    # 1.65s cold, and the corpus-sized persist is gone entirely.
    w_rank = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tri").asc())
    # lang IS NOT NULL mirrors the oracle: unlabeled docs can't teach
    # a profile, and a NULL candidate would hit the engines' opposite
    # NULL-ordering defaults in the argmax tiebreak.
    profile = (
        tri_all.filter(F.col("lang").isNotNull())
        .groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= LANGID_TOP_TRIGRAMS)
        .select(F.col("lang").alias("candidate_lang"), "tri")
    )
    # Scoring is PURE MAP WORK over the RAW SCAN — zero exchanges, zero
    # tokenization (r11 opt, guide §2.4 / §1.2). The learned profile is
    # config-sized (langs × LANGID_TOP_TRIGRAMS strings): collect it
    # once and score each document in-row. A profile trigram t is
    # matched by a document iff contains(text, t) — every 3-char
    # substring of text IS one of the oracle's trigrams (and UTF-8 is
    # self-synchronizing, so byte containment ⟺ character-substring) —
    # so score(lang) = size(filter(profile_lang, t -> contains(text,
    # t))) counts DISTINCT matched trigrams exactly like the oracle's
    # count(*) over the doc_tri⋈profile join (profile rows are distinct
    # (lang, tri) by construction). This replaces the r10 shape that
    # re-tokenized every document in the scoring projection (and whose
    # Filter on the derived score was pushed below the repartition,
    # re-evaluating the tokenize tree single-threaded at the scan —
    # measured 2.4 s of its 3.5 s at sf0.1). NULL/short texts match
    # nothing and drop, exactly as the former inner join dropped them.
    prof_rows = profile.collect()
    by_lang: dict[str, list[str]] = {}
    for r in prof_rows:
        by_lang.setdefault(r["candidate_lang"], []).append(r["tri"])
    langs = sorted(by_lang)
    if not langs:  # no labeled docs -> no profile -> no predictions
        return spark.createDataFrame(
            [],
            schema="doc_id bigint, actual_lang string, "
                   "predicted_lang string, score bigint",
        )
    scores = [
        F.size(
            F.filter(
                F.lit(by_lang[lang]).cast("array<string>"),
                lambda t: F.col("text").contains(t),
            )
        ).cast("bigint")
        for lang in langs
    ]
    with_scores = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[s.alias(f"__s_{j}") for j, s in enumerate(scores)],
    )
    score_cols = [F.col(f"__s_{j}") for j in range(len(langs))]
    best = (
        F.greatest(*score_cols) if len(score_cols) > 1 else score_cols[0]
    )
    predicted = F.coalesce(
        *[
            F.when(score_cols[j] == best, F.lit(langs[j]))
            for j in range(len(langs))
        ]
    )
    # The no-match drop ("best >= 1") must NOT be a Filter on the
    # derived score: PushPredicateThroughNonJoin substitutes the score
    # aliases into the predicate and pushes the whole score tree into a
    # scan-level Filter that re-evaluates it per row in addition to the
    # projection above. Emitting the hit through explode() of a
    # conditional array keeps the exact inner-join drop semantics while
    # the Generate evaluates the scores once per row and stays put.
    # Receipt: plans/r11 — no Filter in the scoring subtree.
    hit = F.when(
        best >= 1,
        F.array(
            F.struct(
                predicted.alias("predicted_lang"), best.alias("score")
            )
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<predicted_lang:string,score:bigint>>"
        )
    )
    return with_scores.select(
        "doc_id", "actual_lang", F.explode(hit).alias("__h")
    ).select(
        "doc_id",
        "actual_lang",
        F.col("__h.predicted_lang").alias("predicted_lang"),
        F.col("__h.score").alias("score"),
    )


SHINGLE_K = 5


@register(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, md5(text) AS content_md5, string_split(text, ' ') AS t
      FROM documents
    )
    SELECT
      doc_id,
      content_md5,
      CASE WHEN len(t) >= {SHINGLE_K}
           THEN list_aggregate(
                  list_transform(generate_series(1, len(t) - {SHINGLE_K - 1}),
                                 i -> md5(array_to_string(t[i:i+{SHINGLE_K - 1}], ' '))),
                  'min')
           ELSE NULL END AS shingle_fingerprint
    FROM toks
    """,
    doc=f"Document fingerprinting: whole-content md5 plus a rolling "
        f"{SHINGLE_K}-token shingle min-hash (winnowing-style smallest "
        "shingle hash) — robust to partial edits, computed in-row.",
    tags=("text", "llm", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # toks is materialized in its own projection first: slice(split(
    # text), ...) inside the transform() lambda would re-split the text
    # per shingle — O(n²) per doc (same pitfall as repetition_signals).
    toks = F.col("toks")
    n = F.size(toks)
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), n - SHINGLE_K),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, SHINGLE_K), " ")),
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text", tokens_col().alias("toks"))
        .select(
            "doc_id",
            F.md5("text").alias("content_md5"),
            F.when(n >= SHINGLE_K, F.array_min(shingle_hashes))
            .otherwise(F.lit(None).cast("string"))
            .alias("shingle_fingerprint"),
        )
    )


VOCAB_SIZE = 16


@register(
    "text_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term FROM toks
      GROUP BY term
      ORDER BY COUNT(*) DESC, term ASC
      LIMIT {VOCAB_SIZE}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    doc=f"Vocabulary coverage / out-of-vocabulary rate: build the "
        f"top-{VOCAB_SIZE} corpus vocabulary by term frequency "
        "(deterministic term-asc tiebreak at the cut; 16 because the "
        "synthetic corpus has only ~31 distinct tokens — a real corpus "
        "uses 32k-256k), then score "
        "each document's fraction of tokens outside it — the "
        "tokenizer-fit diagnostic run before committing a vocab to a "
        "training corpus. Two-pass shape: pass 1 is the "
        "explode->agg->TakeOrdered vocab build (the vocab is "
        "KB-sized at any corpus scale, so it BROADCASTS); pass 2 "
        "re-streams tokens through the broadcast membership join and "
        "aggregates per doc — no token-keyed shuffle anywhere, only "
        "the per-doc count shuffle. The OOV count stays integer; the "
        "single division per row is correctly-rounded IEEE, so the "
        "rate is hash-stable.",
    tags=("text", "llm", "aggregation"),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens_col()).alias("term"))
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(VOCAB_SIZE)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias(
                "oov_rate"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "text_word_entropy",
    oracle="""
    WITH counts AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT)  AS n_tokens,
             CAST(COUNT(*) AS BIGINT)  AS n_distinct,
             list_reduce(
               list_transform(list(cnt ORDER BY term),
                              c -> CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))),
               (a, b) -> a + b) AS clog
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           -- + 0.0 canonicalizes IEEE -0.0 (zero-entropy docs round to
           -- a signed zero whose sign is a libm residual, not signal)
           CAST(ROUND(log2(CAST(n_tokens AS DOUBLE)) - clog / n_tokens, 9)
                + 0.0 AS DOUBLE) AS word_entropy,
           CAST(CAST(n_distinct AS DOUBLE) / n_tokens AS DOUBLE) AS ttr
    FROM agg ORDER BY doc_id
    """,
    doc="Per-document unigram Shannon entropy (plus type-token ratio): "
        "the information-density quality signal — low entropy flags "
        "repetitive/templated text that repetition heuristics "
        "(text_repetition_signals) can miss. Determinism: the "
        "Sigma c*log2(c) float sum is order-dependent, so both engines "
        "fold it over the term-SORTED count array (Spark aggregate() "
        "over array_sort, DuckDB list_reduce over list(... ORDER BY)) "
        "— a defined fold order makes float summation portable. log2 "
        "itself is NOT: libm transcendentals differ between the JVM "
        "and DuckDB by 1 ulp on some inputs, so the final entropy is "
        "rounded to 9 decimals on both sides (noise ~1e-15, signal "
        "~log2(vocab)). "
        "Scale: explode-then-count shuffles (doc_id, term) pairs — the "
        "long-document-safe path; the per-doc count array is bounded "
        "by per-doc vocabulary.",
    tags=("text", "llm", "statistics"),
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    counts = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    clog = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("term", "cnt"))),
            lambda x: x.cnt.cast("double") * F.log2(x.cnt.cast("double")),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        clog.alias("clog"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        # + 0.0 canonicalizes IEEE -0.0 (see oracle note).
        (
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("clog") / F.col("n_tokens"),
                9,
            )
            + F.lit(0.0)
        )
        .cast("double")
        .alias("word_entropy"),
        (F.col("n_distinct").cast("double") / F.col("n_tokens"))
        .cast("double")
        .alias("ttr"),
    ).orderBy("doc_id")


# Count-min sketch: K independent hash rows of W buckets, every term
# occurrence increments one bucket per row, estimate = min over rows.
# Hashes reuse the md5->60-bit->universal-mix machinery from the
# MinHash family, so both engines compute identical integers.
from etl_spark.plans.llm_dedup import HASH_A, HASH_B, MERSENNE_P  # noqa: E402

CMS_K = 4
CMS_W = 256
CMS_TOP = 20


def _cms_bucket_sql(i: int) -> str:
    return f"(({HASH_A[i]} * hp + {HASH_B[i]}) % {MERSENNE_P}) % {CMS_W}"


@register(
    "text_cms_term_counts",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    hashed AS (
      SELECT term, {md5_int_sql("term", 15)} % {MERSENNE_P} AS hp FROM tok
    ),
    bexp AS (
      {" UNION ALL ".join(f"SELECT term, {i} AS row_i, {_cms_bucket_sql(i)} AS bucket FROM hashed" for i in range(CMS_K))}
    ),
    cms AS (
      SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM bexp GROUP BY row_i, bucket
    ),
    top AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM tok GROUP BY term
      ORDER BY true_count DESC, term ASC LIMIT {CMS_TOP}
    ),
    top_hashed AS (
      SELECT term, true_count, {md5_int_sql("term", 15)} % {MERSENNE_P} AS hp
      FROM top
    ),
    probes AS (
      {" UNION ALL ".join(f"SELECT term, true_count, {i} AS row_i, {_cms_bucket_sql(i)} AS bucket FROM top_hashed" for i in range(CMS_K))}
    )
    SELECT p.term, p.true_count,
           CAST(MIN(cms.c) AS BIGINT) AS est_count,
           CAST(MIN(cms.c) - p.true_count AS BIGINT) AS overestimate
    FROM probes p JOIN cms ON cms.row_i = p.row_i AND cms.bucket = p.bucket
    GROUP BY p.term, p.true_count
    ORDER BY p.true_count DESC, p.term ASC
    """,
    doc=f"Count-min sketch frequency estimation, audited against exact "
        f"counts: {CMS_K} hash rows x {CMS_W} buckets built in ONE "
        "pass over token occurrences (the sketch is K*W integers — "
        "constant size however large the corpus), then the true "
        f"top-{CMS_TOP} terms are probed and estimate-vs-truth "
        "reported. CMS never underestimates, so `overestimate` >= 0 "
        "by construction — visible directly in the result. This is "
        "the heavy-hitter machinery for corpora whose exact term "
        "counts would not fit anywhere; all hashing is md5-derived "
        "integer math, engine-identical.",
    tags=("text", "llm", "sketch", "statistics"),
)
def text_cms_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    hp = md5_int("term", 15) % MERSENNE_P

    def bucket(i: int):
        return ((F.lit(HASH_A[i]) * F.col("hp") + F.lit(HASH_B[i])) % MERSENNE_P) % CMS_W

    hashed = tok.select("term", hp.alias("hp"))
    bexp = hashed.select(
        F.posexplode(F.array(*[bucket(i) for i in range(CMS_K)])).alias(
            "row_i", "bucket"
        )
    )
    cms = bexp.groupBy("row_i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("term"))
        .limit(CMS_TOP)
    )
    probes = top.select(
        "term",
        "true_count",
        hp.alias("hp"),
    ).select(
        "term",
        "true_count",
        F.posexplode(F.array(*[bucket(i) for i in range(CMS_K)])).alias(
            "row_i", "bucket"
        ),
    )
    est = (
        probes.join(F.broadcast(cms), ["row_i", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("c").alias("est_count"))
    )
    return est.select(
        "term",
        "true_count",
        F.col("est_count").cast("bigint").alias("est_count"),
        (F.col("est_count") - F.col("true_count"))
        .cast("bigint")
        .alias("overestimate"),
    ).orderBy(F.desc("true_count"), F.asc("term"))


ZIPF_TOP_N = 100


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH top_terms AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
      ORDER BY freq DESC, term ASC
      LIMIT {ZIPF_TOP_N}
    ),
    ranked AS (
      SELECT ROUND(log2(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC)
                             AS DOUBLE)), 9) AS x,
             ROUND(log2(CAST(freq AS DOUBLE)), 9) AS y,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rnk
      FROM top_terms
    ),
    arrs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             list(x ORDER BY rnk) AS xs,
             list(y ORDER BY rnk) AS ys
      FROM ranked
    ),
    sums AS (
      SELECT n,
             list_reduce(xs, (a, b) -> a + b) AS sx,
             list_reduce(ys, (a, b) -> a + b) AS sy,
             list_reduce(list_transform(list_zip(xs, ys), p -> p[1] * p[2]),
                         (a, b) -> a + b) AS sxy,
             list_reduce(list_transform(xs, v -> v * v), (a, b) -> a + b)
               AS sxx
      FROM arrs
    )
    SELECT n AS n_terms,
           CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS DOUBLE)
             AS zipf_slope,
           CAST(ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                      / n, 9) AS DOUBLE) AS zipf_intercept
    FROM sums
    """,
    doc=f"Zipf's-law fit over the top-{ZIPF_TOP_N} term frequencies: "
        "least-squares slope of log2(freq) on log2(rank) — natural "
        "corpora sit near -1; a flat slope flags synthetic/templated "
        "text. Three portability techniques at once: deterministic "
        "rank tiebreaks, log2 values ROUNDED to 9 decimals before any "
        "arithmetic (libm ulp skew), and every float sum folded over "
        "the rank-ORDERED array in both engines (defined order — "
        "never SUM()). The fold runs over a config-sized array; the "
        "only data-sized work is the term count.",
    tags=("text", "llm", "statistics"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    top = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(ZIPF_TOP_N)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = top.select(
        F.round(F.log2(F.row_number().over(w).cast("double")), 9).alias("x"),
        F.round(F.log2(F.col("freq").cast("double")), 9).alias("y"),
        F.row_number().over(w).alias("rnk"),
    )
    arrs = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rnk", "x"))), lambda s: s.x
        ).alias("xs"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("rnk", "y"))), lambda s: s.y
        ).alias("ys"),
    )

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)

    sums = arrs.select(
        "n",
        fold(F.col("xs")).alias("sx"),
        fold(F.col("ys")).alias("sy"),
        F.aggregate(
            F.zip_with(F.col("xs"), F.col("ys"), lambda x, y: x * y),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("sxy"),
        fold(F.transform(F.col("xs"), lambda v: v * v)).alias("sxx"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 9).cast("double").alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 9)
        .cast("double")
        .alias("zipf_intercept"),
    )


VOCAB_BUCKETS = 10


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH first_seen AS (
      SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term
    ),
    bounds AS (
      SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs FROM documents
    ),
    bucketed AS (
      SELECT CAST(first_doc * {VOCAB_BUCKETS} // b.n_docs AS BIGINT)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS new_terms
      FROM first_seen CROSS JOIN bounds b
      GROUP BY 1
    )
    SELECT bucket, new_terms,
           CAST(SUM(new_terms) OVER (ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
    FROM bucketed
    ORDER BY bucket
    """,
    doc=f"Heaps'-law vocabulary growth: the corpus is cut into "
        f"{VOCAB_BUCKETS} ingestion-order slices (doc_id deciles) and "
        "each term attributes to the slice where it FIRST appears; "
        "the cumulative curve is the vocabulary-vs-corpus-size "
        "relation (sublinear for natural text, near-linear for noise "
        "— the complement of text_zipf_fit's frequency view). One "
        "first-seen aggregate keyed on term, a broadcast 1-row "
        "bounds join, and a {VOCAB_BUCKETS}-row window.",
    tags=("text", "llm", "statistics"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    first_seen = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bounds = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    bucketed = (
        first_seen.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"first_doc * {VOCAB_BUCKETS} div n_docs").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        bucketed.withColumn(
            "cum_vocab", F.sum("new_terms").over(w).cast("bigint")
        )
        .orderBy("bucket")
    )


# BM25 constants (the Robertson/Sparck-Jones defaults) and a fixed
# retrieval query — config, like every ANN query set in this repo.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("scan", "join", "vector")
BM25_TOP_N = 20
# Pre-folded constants (k1+1, 1-b) as EXPLICIT double casts: a bare
# SQL literal like 2.2 parses as DECIMAL(2,1) in both engines, which
# silently makes tf*2.2 exact-decimal math before the double convert —
# deterministic, but a trap for anyone replaying the formula in
# doubles. CAST(... AS DOUBLE) pins every op to plain IEEE arithmetic.
_BM25_K1P1 = "CAST(2.2 AS DOUBLE)"
_BM25_1MB = "CAST(0.25 AS DOUBLE)"
_BM25_K1_D = "CAST(1.2 AS DOUBLE)"
_BM25_B_D = "CAST(0.75 AS DOUBLE)"


def _bm25_score_sql(tf: str, df: str) -> str:
    """The BM25 term score as ONE shared SQL expression string —
    rendered into the DuckDB oracle verbatim and parsed by Spark via
    F.expr, so both engines evaluate the identical IEEE expression
    tree. idf is the RATIONAL core (N - df + 0.5)/(df + 0.5): ln() of
    it is the textbook idf, but ln's last ulp differs across runtimes
    and a monotone transform cannot change any per-term comparison —
    summed scores differ from textbook BM25, the top-N ORDER does not
    for single-term dominance; we document score as 'rational-idf
    BM25', the engine-exact variant (same trade as tf/df in
    text_tfidf_top_terms)."""
    idf = f"((CAST(n_docs AS DOUBLE) - {df} + 0.5) / ({df} + 0.5))"
    norm = f"((CAST(dl AS DOUBLE) * n_docs) / total_dl)"
    denom = f"({tf} + {_BM25_K1_D} * ({_BM25_1MB} + {_BM25_B_D} * {norm}))"
    return f"({idf} * ({tf} * {_BM25_K1P1}) / {denom})"


def _bm25_oracle() -> str:
    per_term = ", ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN s END), 0.0) AS s_{t}"
        for t in BM25_TERMS
    )
    term_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    total = " + ".join(f"s_{t}" for t in BM25_TERMS)
    return f"""
    WITH stats AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS total_dl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term IN ({term_list})
      GROUP BY doc_id, dl, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.dl, tf.term,
             {_bm25_score_sql('tf.tf', 'df.df')} AS s
      FROM tf JOIN df USING (term) CROSS JOIN stats
    ),
    pivoted AS (
      SELECT doc_id, dl, {per_term}
      FROM scored
      GROUP BY doc_id, dl
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           (({total.split(' + ')[0]} + {total.split(' + ')[1]})
             + {total.split(' + ')[2]}) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY
               (({total.split(' + ')[0]} + {total.split(' + ')[1]})
                 + {total.split(' + ')[2]}) DESC, doc_id ASC) AS rnk
      FROM pivoted
    )
    WHERE rnk <= {BM25_TOP_N}
    """


@register(
    "text_bm25_rank",
    oracle=_bm25_oracle(),
    doc=f"BM25 document ranking for a fixed {len(BM25_TERMS)}-term "
        f"query {BM25_TERMS}: per-(doc, term) tf with document length "
        "dl, per-term df, corpus (N, total_dl) from one 1-row "
        "aggregate, scored with rational-idf BM25 (k1="
        f"{BM25_K1}, b={BM25_B}) — idf kept as (N-df+0.5)/(df+0.5) "
        "WITHOUT the ln(): a monotone transform of textbook idf, so "
        "per-term ordering is preserved while every operation stays "
        "an exact IEEE expression both engines evaluate identically "
        "(the repo-wide no-libm rule; same trade as "
        "text_tfidf_top_terms). Per-doc total adds the per-term "
        "scores in one FIXED parenthesized order (float addition is "
        "not associative). Plan: token explode filtered to the query "
        "terms BEFORE the tf groupBy (the explode output is "
        f"|terms∩doc| rows, not |tokens|), df ({len(BM25_TERMS)} "
        "rows) and corpus stats (1 row) ride back as broadcast "
        "literals, ranking is TakeOrdered top-{BM25_TOP_N} — never a "
        "global sort.",
    tags=("text", "llm", "retrieval", "bm25"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col()).alias("dl"),
        F.explode(tokens_col()).alias("term"),
    ).filter(F.col("term").isin(*BM25_TERMS))
    tf = docs.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        load(spark, sf_dir, "documents")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens_col())).alias("total_dl"),
        )
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", F.expr(_bm25_score_sql("tf", "df")))
    )
    pivoted = scored.groupBy("doc_id", "dl").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"s_{t}")
            for t in BM25_TERMS
        ]
    )
    t0, t1, t2 = (F.col(f"s_{t}") for t in BM25_TERMS)
    total = (t0 + t1) + t2
    top = (
        pivoted.withColumn("score", total)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP_N)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", F.col("dl").cast("bigint").alias("dl"), "score",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


# Feature-hashing dimensionality and the deterministic stand-in
# weights: weight(bucket) = (bucket % 7) - 3 ∈ [-3, 3]. A real
# pipeline loads trained weights as a config array; the derivation
# here keeps the oracle closed-form while exercising the identical
# plan (hash → bucket → weight → margin).
HASH_DIM = 1024
_H16_TOKEN_SQL = md5_int_sql("t", 4)


def token_bucket(t):
    """A token's feature-hashing bucket: its md5's 4-hex prefix mod
    HASH_DIM (the JVM form of ``_H16_TOKEN_SQL``). The one definition
    shared by the hashing-trick scorer, the trained classifier and its
    streaming gate, so batch and stream bucket every token alike."""
    return (
        md5_int(t, 4) % HASH_DIM
    ).cast("int")


@register(
    "text_hashing_trick_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    mapped AS (
      SELECT doc_id, ts,
             list_transform(ts, t -> ({_H16_TOKEN_SQL}) % {HASH_DIM})
               AS buckets
      FROM toks
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct_tokens,
           CAST(len(list_distinct(buckets)) AS BIGINT)
             AS n_distinct_buckets,
           CAST(list_sum(list_transform(buckets, b -> (b % 7) - 3))
                AS BIGINT) AS margin,
           COALESCE(CAST(list_sum(list_transform(buckets, b -> (b % 7) - 3))
                AS BIGINT) > 0, FALSE) AS predicted
    FROM mapped
    ORDER BY doc_id
    """,
    doc=f"The feature-hashing trick (Weinberger et al.: the core of "
        "large-scale linear text classification — Vowpal Wabbit, "
        "spam filters): every token hashes into a FIXED "
        f"{HASH_DIM}-dim space (md5 4-hex prefix mod dim, the "
        "engine-identical hash this repo uses everywhere), so the "
        "model is a dense weight array independent of vocabulary "
        "size, and scoring is margin = Σ weight[bucket(token)] — "
        "here with deterministic stand-in weights (bucket%7 − 3) so "
        "the oracle is closed-form; a trained model swaps in a "
        "config array, same plan. Emits the collision telemetry "
        "(distinct tokens vs distinct buckets) that sizes the dim in "
        "practice. Everything is IN-ROW JVM higher-order functions "
        "over the token array — integer margins, ZERO shuffles, no "
        "UDF: the narrowest possible plan at any corpus size.",
    tags=("text", "llm", "ml", "hashing"),
)
def text_hashing_trick_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens_col()
    weight = lambda t: token_bucket(t) % 7 - 3  # noqa: E731
    margin = F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias(
                "n_distinct_tokens"
            ),
            F.size(F.array_distinct(F.transform(toks, token_bucket)))
            .cast("bigint")
            .alias("n_distinct_buckets"),
            margin.alias("margin"),
            # NULL-text docs have NULL margin; the class verdict is
            # pinned to FALSE in BOTH engines (a doc with no scorable
            # tokens is not positive) — nullable booleans render
            # differently across engines and are banned in outputs
            F.coalesce(margin > 0, F.lit(False)).alias("predicted"),
        )
        .orderBy("doc_id")
    )
