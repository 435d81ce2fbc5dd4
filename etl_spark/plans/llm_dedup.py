"""Deduplication operators over `documents` (SURVEY.md §2.3).

Four dedup families, all expressed as pure DataFrame plans and all
oracle-paired (the usual blocker — engine-specific hash functions — is
avoided by deriving every hash from md5(), which both Spark and DuckDB
implement bit-identically):

* exact        — content-hash grouping (the generalization of the
                 reference's latest-snapshot-wins S14 dedup,
                 reference main.py:149-157, to content identity).
* n-gram Jaccard — exact set similarity over 3-token shingles via
                 posting-list pair generation (NEVER an all-pairs
                 crossJoin, and no self-join either: each shingle's
                 doc list emits its pairs map-side).
* MinHash + LSH — 16 md5-minhash signatures banded 4×4; candidate
                 pairs are docs colliding in ≥1 band. This is the
                 100 TB path: cost is O(docs × shingles) + a bucket
                 join, independent of the number of pairs.
* SimHash      — 16-bit tf-weighted fingerprint; near-dups share
                 (or almost share) the fingerprint value.

Scale notes — two defenses compose, in this order:

1. **Exact-dup collapse first** (``rep_docs``): every near-dup
   structure is built over one representative per distinct text, so
   copy multiplicity — the dominant duplication mode in web corpora,
   where one template has 10^4+ byte-identical copies — can neither
   inflate shingle document frequencies past the stop cap (the sf10
   probe's measured failure: every shingle over the cap, the whole
   near-dup surface silently empty) nor turn each dup group into a
   C(copies, 2) pair clique (the measured 590 → 4.9M pair blowup at
   10x replication). Exact multiplicity is dedup_exact's output;
   dedup_clusters re-attaches copies via doc→canonical edges.
2. **Stop-shingle df cap** over rep-space df: the shingle inverted
   index shuffles on shingle — head shingles are the skew risk,
   mitigated by dropping ultra-frequent shingles (a standard
   stop-shingle filter, STOP_SHINGLE_MAX_DF) from the index before
   posting lists are collected: a shingle shared by k DISTINCT texts
   emits O(k²) candidate pairs, so capping rep-space document
   frequency bounds per-shingle pair emission to
   STOP_SHINGLE_MAX_DF²/2 regardless of corpus size (and a shingle
   in thousands of distinct texts is boilerplate, not signal) — and
   keeps every collected posting list at most STOP_SHINGLE_MAX_DF
   elements.

Both are mirrored in the DuckDB oracles so the pairs stay hash-green;
LSH band buckets are uniformly distributed by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.io import load
from etl_spark.operators.caching import session_cached
from etl_spark.operators.graph import triangle_count
from etl_spark.plans.registry import REGISTRY, register

# --------------------------------------------------------------------------
# Exact dedup by content hash.
# --------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT
      doc_id,
      md5(text) AS content_hash,
      MIN(doc_id) OVER (PARTITION BY md5(text))              AS canonical_id,
      CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
           THEN 1 ELSE 0 END                                 AS is_duplicate
    FROM documents
    """,
    doc="Exact dedup: md5 content hash, lowest doc_id in each hash "
        "group is canonical. One shuffle on the hash; at 100 TB the "
        "hash (32 bytes) shuffles instead of the document body.",
    tags=("dedup", "llm"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("content_hash")
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn(
            "is_duplicate",
            F.when(F.col("doc_id") != F.col("canonical_id"), 1).otherwise(0),
        )
    )


# --------------------------------------------------------------------------
# Shared shingle machinery.
# --------------------------------------------------------------------------

NGRAM = 3

# Stop-shingle document-frequency cap: shingles appearing in more than
# this many documents are dropped from the inverted index. 64 keeps
# every shingle at the test scale factors (max observed df is 25 at
# sf0.1) while bounding the skew blowup at 100 TB: pair emission per
# shingle is at most 64²/2 ≈ 2k rows instead of k² for a hot shingle
# shared by k documents. Recall impact is nil in practice — a shingle
# that frequent is boilerplate, not signal (the same reasoning as
# stopword removal).
STOP_SHINGLE_MAX_DF = 64


def kept_shingle_arrays(
    per_doc: DataFrame, max_df: int = STOP_SHINGLE_MAX_DF
) -> DataFrame:
    """Stop-shingle filter over PER-DOC shingle arrays: (doc_id, arr)
    → (doc_id, arr) with over-cap shingles removed in-row.

    History of the shape (r11 opt, guide §2.5 hot keys + §5): the r9
    stop filter (hot-list aggregate + broadcast anti-join over
    exploded rows) was skew-free but evaluated the whole explode
    twice; r10's shingle-partitioned window was single-pass but put
    EVERY occurrence of a 100 TB boilerplate shingle into ONE task's
    (spillable) window buffer before dropping it — a straggler by
    construction — and still needed a doc-keyed window afterwards for
    ``n_sh``, the surviving-shingle count per doc that pair consumers
    need. (A shared-exchange anti-join was also tried and rejected:
    column pruning diverges between the agg and join sides and
    PushDownLeftSemiAntiJoin pushes the join below the repartition,
    so the exchange is never actually reused.) Keeping
    the filter at ARRAY granularity gets all three properties at
    once: the per-doc arrays are localCheckpointed once (lazy,
    DISK_ONLY, per-call — the mm_phash pattern, never cross-run
    state) so tokenization runs exactly once at RDD level; df comes
    from a map-combining count over one explode of the checkpoint (a
    hot key costs one row per map task — no giant-key task anywhere);
    the over-cap list is COLLECTED (config-sized driver state,
    boilerplate shingles are few at any scale — the same contract as
    the langid profile and the kmeans centroids) and removed in-row
    with ``array_except`` against the literal, so hot occurrences
    never cross an exchange, there is no join node at all, and n_sh
    is a free ``size(arr)`` in the same projection: ZERO index-sized
    exchanges between the tokenize and the final posting aggregate.
    Measured at sf0.1 (interleaved min-of-4, posting-build noop):
    window shape 1.47 s vs 1.86 s here — the +0.4 s is the checkpoint
    materialization + the extra hot-list action, which this scale
    doesn't amortize; at 100 TB the window shape wrote the same bytes
    to shuffle disk TWICE (shingle window + doc window) while one
    task single-threaded the hottest key.

    Exact semantics: shingle_array emits per-doc DISTINCT shingles,
    so df counts docs; array_except(arr, hot) drops exactly the
    shingles with df > max_df and dedupes nothing new. No NULL
    shingles exist (shingle_array emits non-null strings), so
    array_except-vs-window NULL semantics never diverge.
    """
    from pyspark.storagelevel import StorageLevel

    ck = per_doc.localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    hot = [
        r["shingle"]
        for r in (
            ck.select(F.explode("arr").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
            .collect()
        )
    ]
    return ck.select(
        "doc_id",
        F.array_except(
            "arr", F.lit(sorted(hot)).cast("array<string>")
        ).alias("arr"),
    )


def shingle_array(toks):
    """Distinct ``NGRAM``-token shingles of a token-array column, as
    one in-row array expression. THE shingle definition — the batch
    index, the incremental pass, and the streaming gate must all
    shingle identically or their overlap math silently diverges."""
    return F.when(
        F.size(toks) >= NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - NGRAM),
                lambda i: F.array_join(F.slice(toks, i + 1, NGRAM), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_reps(docs: DataFrame) -> DataFrame:
    """Exact-dup representatives of a (doc_id, text) frame: one row per
    DISTINCT text, doc_id = the group's minimum (dedup_exact's
    canonical rule). THE collapse every near-dup front end runs —
    shingle and phash families, batch and streaming history indexes.
    Callers that restrict the corpus (an ingest slice, a length floor)
    filter first, so every kept text has its representative inside
    the slice."""
    return (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .drop("_h")
    )


def rep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup representatives of the whole corpus (``exact_reps``).

    Collapsing BEFORE shingling is the load-bearing scale order the
    phash family already follows (plans/multimodal.py) and the one
    the sf10 decade probe proved the shingle family needed: on a
    corpus where every text has >= cap exact copies, per-DOC document
    frequency pushes EVERY shingle over STOP_SHINGLE_MAX_DF and the
    whole near-dup surface silently returns empty — while below the
    cliff each exact-dup group forms a clique in the pair output
    (C(copies, 2) pairs per text: measured 590 -> 4.9M pairs on the
    10x replication, 2s -> 40s triangle counting). Rep-space df
    counts distinct TEXTS, so the cap is again a boilerplate filter
    rather than a duplication-rate tripwire, and pair volume is
    governed by content diversity, never by copy counts — exact
    multiplicity is dedup_exact's job.
    """
    return exact_reps(load(spark, sf_dir, "documents"))


def shingle_explode(docs: DataFrame) -> DataFrame:
    """Unfiltered (doc_id, shingle) rows from a (doc_id, text) frame,
    one per distinct shingle per doc.

    The token array is materialized in its own projection before the
    shingle transform: slice(split(text), ...) inside the lambda would
    re-split the text once per shingle — O(n²) per document in the
    hottest loop of the dedup family.
    """
    sh = shingle_array(F.col("toks"))
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.explode(sh).alias("shingle"))
    )


def _raw_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfiltered (rep_id, shingle) rows over exact-dup
    REPRESENTATIVES — the input every downstream dedup structure
    (posting lists, signatures, pair joins) builds from."""
    return shingle_explode(rep_docs(spark, sf_dir))


def posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-filtered inverted index as posting LISTS: (shingle,
    docs sorted array<bigint>, sizes array<bigint> position-aligned
    with docs). The cached shape all dedup consumers derive from:

    * ``shingles_df`` re-explodes ``docs`` map-side for signature
      passes (``sizes`` is COLUMN-PRUNED out of those scans — the
      reason sizes is a parallel array and not a struct field: a
      cached array<struct> cannot be pruned per-field, and carrying
      the sizes through the signature explode measured +0.8s at
      sf0.1);
    * ``dedup_jaccard_pairs`` emits candidate pairs directly from each
      list — map-side, NO self-join — which is the classic inverted-
      index pair generation (cf. PPJoin): the df cap bounds every list
      at {STOP_SHINGLE_MAX_DF}, so per-shingle pair emission is
      bounded and the exchanges+sorts of a shingle self-join vanish.

    ``sizes[i]`` is doc ``docs[i]``'s surviving shingle-set size (r10
    opt, guide §2.3 "shuffle keys and metadata instead of payloads" /
    §2.4 "remove shuffles outright"): pair consumers need (na, nb) to
    score Jaccard/containment, and zipping them onto the emitted pair
    structs in-row costs 8 bytes/row in the pair stream — while the
    former shape re-derived a doc_sizes table per consumer and
    attached it with TWO sort-merge joins (pairs re-shuffled and
    re-sorted twice, sizes shuffled twice). Measured at sf0.1
    (interleaved min-of-4): dedup_jaccard_pairs from a warm index
    1.86s → 0.95s.

    The stop filter runs BEFORE collect_list so a 100 TB hot shingle
    never materializes a giant in-memory list.
    """

    # ONE tokenization, ZERO index-sized exchanges before the final
    # posting aggregate (r11 opt): the stop filter runs at per-doc
    # ARRAY granularity (kept_shingle_arrays — hot shingles removed
    # in-row against a broadcast over-cap list, the per-doc arrays
    # checkpointed once), so n_sh is size(arr) in the same projection.
    # The r10 shape paid a shingle-partitioned window (every
    # occurrence of a hot shingle buffered in ONE task — a 100 TB
    # straggler) plus a doc-keyed window for n_sh — two full
    # exchanges of the exploded index that are simply gone here.
    def build() -> DataFrame:
        # toks in its OWN projection: split(text) inlined into the
        # shingle transform's lambda would re-split per shingle —
        # O(n²) per document (the shingle_explode pitfall).
        per_doc = (
            rep_docs(spark, sf_dir)
            .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
            .select("doc_id", shingle_array(F.col("toks")).alias("arr"))
        )
        kept = kept_shingle_arrays(per_doc)
        return (
            kept.select(
                "doc_id",
                F.size("arr").cast("bigint").alias("n_sh"),
                F.explode("arr").alias("shingle"),
            )
            .groupBy("shingle")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("doc_id", "n_sh"))
                ).alias("arr")
            )
            .select(
                "shingle",
                F.transform("arr", lambda x: x["doc_id"]).alias("docs"),
                F.transform("arr", lambda x: x["n_sh"]).alias("sizes"),
            )
        )

    return session_cached("dedup_posting_lists", spark, sf_dir, build)


def sized_docs():
    """In-row zip of a posting row's ``docs``/``sizes`` arrays into
    array<struct<doc_id, n_sh>> — the shape pair emission consumes."""
    return F.zip_with(
        "docs",
        "sizes",
        lambda d, s: F.struct(d.alias("doc_id"), s.alias("n_sh")),
    )


def shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-token shingles per document, stop-shingle filtered:
    (doc_id, shingle). Derived map-side from the cached posting lists;
    consumed by the MinHash signature pass and per-doc size counts."""
    return posting_lists(spark, sf_dir).select(
        F.explode("docs").alias("doc_id"), "shingle"
    )


# --------------------------------------------------------------------------
# Shared posting-list pair machinery. dedup_jaccard_pairs,
# dedup_containment_pairs and dedup_incremental_batch all run the same
# steps — in-row ordered pair emission with sizes riding the structs,
# one shared-shingle aggregate — so each step lives here ONCE;
# diverging a copy silently broke lockstep edits before these were
# factored.
# --------------------------------------------------------------------------


def ordered_pair_structs(docs, a_name: str = "doc_a", b_name: str = "doc_b"):
    """All (i, j>i) struct pairs of a SORTED id-array column — each
    unordered pair exactly once with a < b by construction. The
    lambdas are interpreted, but they run over ≤-cap-length lists and
    emit exactly the candidate stream — far cheaper than
    exchanging+sorting both sides of a corpus-sized self-join."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs) - i - 1),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


def pair_common_counts(posting: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_common, na, nb) candidate-pair frame from
    struct posting lists: each df-capped list emits its ordered pairs
    map-side, ONE aggregation counts shared shingles per pair, and the
    set sizes ride the pair structs in-row (first() over a constant —
    n_sh is functional on the doc id).

    This replaced the former join_pair_sizes shape (r10 opt, guide
    §2.4): attaching sizes used to re-derive a doc_sizes table per
    consumer and sort-merge-join it TWICE onto the aggregated pairs
    (broadcast was banned — both sides corpus-derived, the sf1 drive's
    measured heap-OOM), i.e. two extra shuffles+sorts of the pair
    frame and two of the sizes per consumer. In-row sizes cost 8
    bytes/row in the map-side pair stream instead.
    """
    return (
        posting.filter(F.size("docs") >= 2)
        # zip projected to a real column FIRST: ordered_pair_structs
        # references its array argument once per element (outer
        # transform + per-element slice), so an inline zip expression
        # would be re-evaluated O(len²) times per row.
        .select(sized_docs().alias("zd"))
        .select(
            F.explode(ordered_pair_structs(F.col("zd"))).alias("p")
        )
        .groupBy(
            F.col("p.doc_a.doc_id").alias("doc_a"),
            F.col("p.doc_b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("p.doc_a.n_sh").alias("na"),
            F.first("p.doc_b.n_sh").alias("nb"),
        )
    )


# Engine-exact measures over the (n_common, na, nb) columns that
# pair_common_counts produces. Functions, not module constants: Column
# construction needs an active SparkContext, which import time lacks.
def jaccard_expr():
    return F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )


def containment_expr():
    return F.col("n_common").cast("double") / F.least("na", "nb")


def _shingles_over_sql(docs_sql: str) -> str:
    """Oracle twin of ``shingle_explode`` over an arbitrary
    (doc_id, text) relation."""
    return f"""
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(t) - {NGRAM - 1}),
                              i -> array_to_string(t[i:i+{NGRAM - 1}], ' ')))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM ({docs_sql}))
      WHERE len(t) >= {NGRAM}
"""


# Oracle twin of ``rep_docs``: exact-dup representatives.
_REP_DOCS_SQL = (
    "SELECT MIN(doc_id) AS doc_id, MIN(text) AS text "
    "FROM documents GROUP BY md5(text)"
)

# Rep-space raw shingles — the fragment every dedup oracle builds on
# (mirrors _raw_shingles; see rep_docs for why collapse comes first).
_RAW_SHINGLES_SQL = _shingles_over_sql(_REP_DOCS_SQL)

# Mirror of shingles_df including the stop-shingle df cap (no NULL
# shingles exist, so NOT IN is safe three-valued-logic-wise).
SHINGLES_SQL = f"""
      SELECT doc_id, shingle FROM ({_RAW_SHINGLES_SQL})
      WHERE shingle NOT IN (
        SELECT shingle FROM ({_RAW_SHINGLES_SQL})
        GROUP BY shingle HAVING COUNT(*) > {STOP_SHINGLE_MAX_DF}
      )
"""

# Oracle twin of pair_common_counts: every rep pair (doc_a < doc_b)
# sharing a kept shingle, with its shared count n_common and both set
# sizes na/nb — the opening ``sh``, ``sized`` and ``pairs`` CTEs of a
# WITH list.
PAIRS_SQL = f"""
    WITH sh AS ({SHINGLES_SQL}),
    sized AS (
      SELECT doc_id, shingle,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_common,
             ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
      FROM sized a JOIN sized b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""

JACCARD_THRESHOLD = 0.05


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    {PAIRS_SQL}
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_THRESHOLD}
    """,
    doc="Exact n-gram Jaccard near-dup pairs BETWEEN exact-dup "
        "representatives (rep_docs collapse first — copies are "
        "dedup_exact's output, not pair noise) from the posting-list "
        "inverted index: each shingle's (sorted, df-capped) rep list "
        "emits its candidate pairs MAP-SIDE — no self-join, no "
        "crossJoin — then one aggregation counts shared shingles per "
        f"pair. The stop-shingle df cap (> {STOP_SHINGLE_MAX_DF} docs) "
        "bounds per-list pair emission, so the exploded pair stream is "
        "O(Σ df²) with df ≤ cap regardless of corpus size. Integer "
        "intersection/union counts → engine-exact double ratio.",
    tags=("dedup", "llm", "neardup"),
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # docs is sorted ascending by doc_id, so ordered_pair_structs
    # yields each unordered pair exactly once with doc_a < doc_b by
    # construction; sizes ride the structs (see pair_common_counts).
    return (
        pair_common_counts(posting_lists(spark, sf_dir))
        .filter(jaccard_expr() >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", jaccard_expr().alias("jaccard"))
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment_pairs",
    oracle=f"""
    {PAIRS_SQL}
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / LEAST(na, nb) AS containment
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / LEAST(na, nb) >= {CONTAINMENT_THRESHOLD}
    """,
    doc="Asymmetric containment near-dup pairs: |A∩B| / min(|A|,|B|) — "
        "the measure that catches a document EMBEDDED in a larger one, "
        "computed between exact-dup representatives (rep_docs), "
        "which symmetric Jaccard misses (a 100-token doc pasted into a "
        "10k-token doc has tiny Jaccard but containment 1.0). Shares "
        "the posting-list candidate machinery with dedup_jaccard_pairs: "
        "pairs emit map-side from df-capped lists, one aggregation, "
        "sizes in-row off the posting structs (no size joins).",
    tags=("dedup", "llm", "neardup"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pair_common_counts(posting_lists(spark, sf_dir))
        .filter(containment_expr() >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", containment_expr().alias("containment"))
    )


# A deterministic ~10% "daily batch" slice: doc_id % MOD == 0. In
# production the batch is whatever landed since the last run; the
# modulo stands in for that split so the oracle can replay it.
INCREMENTAL_BATCH_MOD = 10


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sized AS (
      SELECT doc_id, shingle,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS match_doc,
             COUNT(*) AS n_common,
             ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
      FROM sized a JOIN sized b
        ON a.shingle = b.shingle
      WHERE a.doc_id % {INCREMENTAL_BATCH_MOD} = 0
        AND (b.doc_id % {INCREMENTAL_BATCH_MOD} <> 0 OR a.doc_id < b.doc_id)
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT new_doc, match_doc, n_common,
           CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard,
           match_doc % {INCREMENTAL_BATCH_MOD} <> 0 AS vs_existing
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
          >= {JACCARD_THRESHOLD}
    """,
    doc="Incremental near-dup over exact-dup representatives: "
        "Jaccard pairs for a NEW ingest batch "
        f"(the deterministic doc_id % {INCREMENTAL_BATCH_MOD} == 0 "
        "slice, ~10% of the corpus) against the existing corpus AND "
        "within the batch — WITHOUT ever re-pairing existing-vs-"
        "existing. Each df-capped posting list is split in-row into "
        "its new/old members and emits only new x old + new x new "
        "pairs map-side, so per-run cost is proportional to the BATCH "
        "(O(sum_per_list |new| * df)), not the corpus squared — the "
        "only shape under which daily dedup of a 100 TB corpus is "
        "affordable (in production the historical posting lists are a "
        "persisted index; here they rebuild per run from the same "
        "cached structure every dedup query shares). vs_existing "
        "distinguishes collisions with history from intra-batch dups. "
        "SCOPE (intentional): the batch slice is taken on the exact-"
        "dup REPRESENTATIVE ids, so an arriving doc that is an exact "
        "copy of historical text emits no row here — exact re-ingests "
        "are the cheap hash-equality case handled by dedup_exact / "
        "dedup_history_gate (which keeps its arriving side per-doc); "
        "this query is solely the near-dup (shingle) tier.",
    tags=("dedup", "llm", "neardup", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    posting = posting_lists(spark, sf_dir)
    mod = F.lit(INCREMENTAL_BATCH_MOD)
    # Split each sorted posting list in-row; both halves stay sorted,
    # so the new x new ordered_pair_structs yields each batch pair
    # once with new_doc < match_doc, exactly like dedup_jaccard_pairs.
    # Sizes ride the structs in-row (see pair_common_counts).
    lists = posting.select(sized_docs().alias("zd")).select(
        F.filter("zd", lambda d: d["doc_id"] % mod == 0).alias("new_docs"),
        F.filter("zd", lambda d: d["doc_id"] % mod != 0).alias("old_docs"),
    ).filter(F.size("new_docs") >= 1)
    pairs_vs_old = F.flatten(
        F.transform(
            F.col("new_docs"),
            lambda n: F.transform(
                F.col("old_docs"),
                lambda o: F.struct(n.alias("new_doc"), o.alias("match_doc")),
            ),
        )
    )
    pairs_in_batch = ordered_pair_structs(
        F.col("new_docs"), "new_doc", "match_doc"
    )
    pairs = (
        lists.select(
            F.explode(F.concat(pairs_vs_old, pairs_in_batch)).alias("p")
        )
        .groupBy(
            F.col("p.new_doc.doc_id").alias("new_doc"),
            F.col("p.match_doc.doc_id").alias("match_doc"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("p.new_doc.n_sh").alias("na"),
            F.first("p.match_doc.n_sh").alias("nb"),
        )
    )
    return (
        pairs.filter(jaccard_expr() >= JACCARD_THRESHOLD)
        .select(
            "new_doc",
            "match_doc",
            "n_common",
            jaccard_expr().alias("jaccard"),
            (F.col("match_doc") % mod != 0).alias("vs_existing"),
        )
    )


@register(
    "dedup_history_gate",
    oracle=f"""
    WITH hist AS (
      -- exact-dup-collapsed representatives OF the historical slice:
      -- hist_df counts distinct historical TEXTS per shingle
      SELECT shingle, COUNT(*) AS hist_df
      FROM ({_shingles_over_sql(
          "SELECT MIN(doc_id) AS doc_id, MIN(text) AS text FROM documents "
          f"WHERE doc_id % {INCREMENTAL_BATCH_MOD} <> 0 GROUP BY md5(text)"
      )})
      GROUP BY shingle
    ),
    batch AS (
      -- arriving side stays per-DOC: every ingested doc gets a verdict
      SELECT doc_id, shingle FROM ({_shingles_over_sql(
          "SELECT doc_id, text FROM documents "
          f"WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0"
      )})
    )
    SELECT b.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(h.hist_df) AS n_seen,
           CAST(COUNT(h.hist_df) AS DOUBLE) / COUNT(*) AS containment,
           CAST(COUNT(h.hist_df) AS DOUBLE) / COUNT(*) >= 0.8 AS likely_dup
    FROM batch b LEFT JOIN hist h USING (shingle)
    GROUP BY b.doc_id
    """,
    doc="At-ingest history-containment gate (batch form of the "
        "streaming twin in streaming/incremental_dedup.py): for each "
        "doc in the ingest slice, the fraction of its shingles already "
        "present in the historical per-shingle index. Deliberately "
        "UNCAPPED index — the stop-shingle cap bounds pair emission, "
        "but this index is one row per shingle and joins 1:1, and a "
        "capped index would blind the gate to exactly the most-"
        "duplicated content. Needs NO per-pair state: O(batch "
        "shingles) join + one per-doc aggregate, the only gate shape "
        "that runs at ingest speed against a 100 TB history.",
    tags=("dedup", "llm", "incremental", "streaming-twin"),
)
def dedup_history_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lazy import: the streaming module imports shingle helpers from
    # this module at load time, so importing it at module level here
    # would be circular.
    from etl_spark.streaming.incremental_dedup import (
        history_index,
        history_overlap,
    )

    batch_docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0)
        .select(
            "doc_id",
            F.lit(None).cast("timestamp").alias("ingest_ts"),
            "text",
        )
    )
    return history_overlap(
        batch_docs, history_index(spark, sf_dir, INCREMENTAL_BATCH_MOD)
    )


# --------------------------------------------------------------------------
# MinHash + LSH. Engine-portable AND cheap: ONE md5 per shingle → a
# 60-bit integer h, then N_HASHES universal-hash mixes
# m_i = (A_i * (h % P) + B_i) % P (exact BIGINT arithmetic, identical
# in Spark and DuckDB — vs 16 md5 calls per shingle occurrence, which
# profiling showed dominated the query at ~25s/5k docs).
# --------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
MERSENNE_P = 1_000_000_007
# Deterministic odd multipliers/offsets < 2^31 (A_i * (h%P) stays < 2^61).
HASH_A = [(2_654_435_761 * (i + 1) + 1) % MERSENNE_P for i in range(N_HASHES)]
HASH_B = [(40_503 * (i + 1) * (i + 1) + 7) % MERSENNE_P for i in range(N_HASHES)]

def _minhash_signature_sql() -> str:
    mins = ",\n        ".join(
        f"MIN(({a} * hp + {b}) % {MERSENNE_P}) AS s{i}"
        for i, (a, b) in enumerate(zip(HASH_A, HASH_B))
    )
    return f"""SELECT doc_id,
        {mins}
      FROM (SELECT doc_id, {md5_int_sql("shingle", 15)} % {MERSENNE_P} AS hp
            FROM sh)
      GROUP BY doc_id"""


def _band_rows_sql() -> str:
    rows = []
    for b in range(N_BANDS):
        s = [f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        expr = f"((({s[0]} * 31 + {s[1]}) * 31 + {s[2]}) * 31 + {s[3]})"
        rows.append(f"SELECT doc_id, {b} AS band_idx, {expr} AS band_hash FROM sig")
    return "\n      UNION ALL\n      ".join(rows)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s0..s{N_HASHES-1}) MinHash signature table.

    Derives map-side from the cached posting lists (materialized
    inside posting_lists), so no extra action here. The md5 → hp hash
    lands on the POSTING row — once per distinct shingle — and the
    shingle string is dropped BEFORE the doc explode (r10 opt, guide
    §2.3 "narrower types"/"project before the exchange"): the former
    shingles_df form carried the string through the explode and
    re-hashed it once per (doc, shingle) occurrence. Measured at
    sf0.1: signature pass 2.58s → 1.90s; the gap widens with
    duplication (occurrences / distinct) at scale.
    """
    posting = posting_lists(spark, sf_dir)
    hp = (md5_int("shingle", 15) % MERSENNE_P).alias("hp")
    # n_sh comes along for free in the same per-doc aggregate (count
    # of the doc's posting rows == its surviving shingle-set size):
    # dedup_minhash_error reads (na, nb) off its existing signature
    # joins instead of joining a separate doc_sizes table twice. The
    # posting sizes array is column-pruned out of this scan.
    return (
        posting.select(hp, F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(a) * F.col("hp") + F.lit(b)) % MERSENNE_P).alias(f"s{i}")
                for i, (a, b) in enumerate(zip(HASH_A, HASH_B))
            ],
            F.count(F.lit(1)).alias("n_sh"),
        )
    )


def cached_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached signature table — THE one materialized minhash
    artifact (r11 opt, guide §5 "cache only what is reused"). Every
    signature consumer derives from this cache: the pair-side joins
    (dedup_minhash_error, the cross-split leakage audit) read it on
    both aliased sides, and the LSH band "table" is now a cheap
    arithmetic PROJECTION over it (_band_table below) instead of a
    second session-cached materialization — the lsh family previously
    persisted BOTH the band rows and (for the error/leakage queries)
    the signatures, paying two build actions + two storage writes per
    cold run where one suffices."""
    return session_cached(
        "minhash_signatures",
        spark,
        sf_dir,
        lambda: minhash_signatures(spark, sf_dir),
    )


def _band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH index — N_BANDS rows per doc,
    derived map-side from the CACHED signature table (posexplode of
    four integer band hashes per row). Not separately persisted: with
    the signatures materialized, re-deriving the bands on each side of
    a self-join costs integer arithmetic over an in-memory scan,
    while persisting them (the r9–r10 shape) cost a dedicated build
    action + storage write per cold run and duplicated the signature
    bytes in storage."""
    sig = cached_signatures(spark, sf_dir)

    def band_hash(b: int):
        s = [
            F.col(f"s{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)
        ]
        return ((s[0] * 31 + s[1]) * 31 + s[2]) * 31 + s[3]

    band_hashes = [band_hash(b) for b in range(N_BANDS)]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*band_hashes)).alias("band_idx", "band_hash"),
    )


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in >= 1 LSH band."""
    bands = _band_table(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sig AS (
      {_minhash_signature_sql()}
    ),
    bands AS (
      {_band_rows_sql()}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
    """,
    doc=f"MinHash LSH candidate pairs over exact-dup representatives: "
        f"{N_HASHES} md5-minhash signatures "
        f"banded {N_BANDS}×{ROWS_PER_BAND}; docs colliding in any band are "
        "candidates. The scale path for near-dup at 100 TB: signature "
        "computation is one pass over shingles, the band join touches "
        "only colliding buckets.",
    tags=("dedup", "llm", "neardup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidates(spark, sf_dir)


FUZZY_MAX_EDITS = 2


@register(
    "dedup_fuzzy_blocked",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_brand, p_name FROM part
    )
    SELECT a.p_brand AS brand, a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_distance
    FROM names a
    JOIN names b ON a.p_brand = b.p_brand AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDITS}
    """,
    doc="Blocked fuzzy matching (entity resolution): exact-dedup to "
        "DISTINCT (brand, name) values first — the entity vocabulary, "
        "not the row count, bounds the pair space — then Levenshtein ≤ "
        f"{FUZZY_MAX_EDITS} within brand blocks. Row-level pairing "
        "would be O(rows²/brands) and meaningless on repetitive names; "
        "the distinct-first shape is how production fuzzy dedup stays "
        "feasible. Integer distance → engine-exact.",
    tags=("dedup", "fuzzy", "join"),
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load(spark, sf_dir, "part").select("p_brand", "p_name").distinct()
    )
    a = names.alias("a")
    b = names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= FUZZY_MAX_EDITS)
    )


@register(
    "dedup_clusters",
    # Star contraction to fixpoint labels each vertex with the
    # MINIMUM id reachable from it — exactly MIN over the recursive
    # transitive closure, which DuckDB's WITH RECURSIVE (set-semantics
    # UNION, so it terminates) expresses directly over the same LSH
    # pair SQL. tests/test_graph.py keeps the union-find property check.
    oracle=f"""
    WITH RECURSIVE pairs AS (
      {{lsh_pairs}}
    ),
    exact_edges AS (
      -- every exact-dup copy links to its canonical representative,
      -- so copies inherit their rep's near-dup cluster
      SELECT doc_id AS doc_a, canon AS doc_b FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
        FROM documents
      ) WHERE doc_id <> canon
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
      UNION ALL
      SELECT doc_a AS src, doc_b AS dst FROM exact_edges
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM exact_edges
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """.format(lsh_pairs=REGISTRY["dedup_minhash_lsh"].oracle),
    doc="Dup clusters: connected components (alternating large-star/"
        "small-star contraction, operators/graph.py) over the union of the "
        "MinHash-LSH candidate pairs (near-dup edges between exact-dup "
        "REPRESENTATIVES) and the exact-dup doc→canonical edges — the "
        "step that turns pairwise matches into canonical groups a "
        "keep-one dedup policy can act on. The composite edge set is "
        "the scale-correct decomposition: near-dup edges are bounded "
        "by content diversity (rep-space, no per-copy cliques), exact "
        "edges are one per duplicate copy (linear), and together every "
        "copy lands in its representative's cluster. Every document "
        "appears; singletons are their own cluster. Oracle: recursive "
        "reachability closure + MIN — equivalent to the fixpoint label.",
    tags=("dedup", "llm", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    vertices = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    exact_edges = (
        dedup_exact(spark, sf_dir)
        .filter(F.col("is_duplicate") == 1)
        .select(F.col("doc_id").alias("src"), F.col("canonical_id").alias("dst"))
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(exact_edges)
    return connected_components(vertices, edges).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# --------------------------------------------------------------------------
# SimHash: 16-bit tf-weighted fingerprint from md5 nibbles.
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_oracle_sql() -> str:
    h16 = md5_int_sql("term", 4)
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h16 // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    fingerprint = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    hashed AS (
      SELECT doc_id, CAST({h16} AS BIGINT) AS h16 FROM terms
    ),
    votes AS (
      SELECT doc_id,
        {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash
    FROM votes
    """


@register(
    "dedup_simhash",
    oracle=_simhash_oracle_sql(),
    doc=f"{SIMHASH_BITS}-bit SimHash fingerprint: every token votes ±1 "
        "per bit position (bits from its md5), fingerprint takes the "
        "majority sign. Near-dup docs land on identical or near values; "
        "computed in one explode + one groupBy.",
    tags=("dedup", "llm", "neardup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = (
        load(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    h16 = md5_int("term", 4)
    hashed = terms.select("doc_id", h16.alias("h16"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.col("h16").bitwiseAND(F.lit(2 ** i))) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fingerprint = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return votes.select("doc_id", fingerprint.cast("bigint").alias("simhash"))


def _sig_match_sql() -> str:
    return " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )


@register(
    "dedup_minhash_error",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sig AS (
      {_minhash_signature_sql()}
    ),
    bands AS (
      {_band_rows_sql()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                 AND a.doc_id < b.doc_id
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST({{match_expr}} AS BIGINT) AS n_sig_match,
           CAST(CAST({{match_expr}} AS DOUBLE) / {N_HASHES} AS DOUBLE)
             AS est_jaccard,
           CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
           CAST(CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                / (sa2.n_sh + sb2.n_sh - COALESCE(cm.n_common, 0)) AS DOUBLE)
             AS true_jaccard,
           CAST(abs(CAST({{match_expr}} AS DOUBLE) / {N_HASHES}
                    - CAST(COALESCE(cm.n_common, 0) AS DOUBLE)
                      / (sa2.n_sh + sb2.n_sh - COALESCE(cm.n_common, 0)))
                AS DOUBLE) AS abs_error
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    JOIN sizes sa2 ON sa2.doc_id = c.doc_a
    JOIN sizes sb2 ON sb2.doc_id = c.doc_b
    LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """.replace("{match_expr}", _sig_match_sql()),
    doc=f"Sketch-quality audit: for every LSH candidate pair, the "
        f"MinHash Jaccard estimate (matching signature fraction, "
        f"{N_HASHES} hashes) against the TRUE shingle Jaccard, with "
        "absolute error — the measurement that justifies trusting the "
        "sketch at 100 TB where the exact join is unaffordable. All "
        "inputs are exact integers (signature matches, intersection "
        "counts), so estimate/truth/error are engine-identical "
        "doubles. Candidates and truth reuse the shared posting-list "
        "index; the exact-pair stage runs only over the LSH-pruned "
        "candidate set, not all pairs.",
    tags=("dedup", "llm", "neardup", "lsh", "statistics"),
)
def dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = lsh_candidates(spark, sf_dir)
    sig = cached_signatures(spark, sf_dir)
    posting = posting_lists(spark, sf_dir)
    # n_common per candidate pair: sizes are NOT taken from the pair
    # structs here (a candidate pair may share zero shingles and then
    # has no row in `common` at all — the LEFT JOIN + coalesce(0)
    # case); instead na/nb ride the signature table's n_sh column,
    # which the sa/sb joins below carry anyway (r10 opt: the former
    # shape derived a separate doc_sizes table and sort-merge-joined
    # it twice more).
    common = (
        posting.filter(F.size("docs") >= 2)
        .select(F.explode(ordered_pair_structs(F.col("docs"))).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ).cast("bigint")
    ncm = F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
    est = matches.cast("double") / N_HASHES
    true_j = ncm.cast("double") / (F.col("na") + F.col("nb") - ncm)
    # Every join side here is corpus-derived (doc- or pair-cardinality),
    # so none may EVER be broadcast: not forced (the round-3 advice
    # class) and not auto-picked either — at 10x bench scale AQE still
    # sees each side under the broadcast threshold and the stacked
    # broadcast builds exhaust the driver heap (measured: the sf1
    # contract drive failed here with "Not enough memory to build and
    # broadcast" before these hints). merge (sort-merge) pins the
    # scale-safe strategy: hash-partition both sides and SPILL-SAFE
    # sort them — a shuffled-hash build would still pin each task's
    # hash map in execution memory (measured: the shuffle_hash form
    # of this fix OOM'd the same drive with "not enough memory to
    # build hash map"), while SMJ degrades to disk, never to failure.
    return (
        cand.join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .join(common.hint("merge"), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            matches.alias("n_sig_match"),
            est.cast("double").alias("est_jaccard"),
            ncm.alias("n_common"),
            true_j.cast("double").alias("true_jaccard"),
            F.abs(est - true_j).cast("double").alias("abs_error"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "graph_dup_triangles",
    oracle=f"""
    {PAIRS_SQL},
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
            >= {JACCARD_THRESHOLD}
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.doc_a = e1.doc_b
    JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    """,
    doc="Triangle count over the near-dup similarity graph (edges = "
        "rep-space Jaccard pairs over threshold — exact-dup copies "
        "never form per-copy cliques): the standard cohesion check "
        "before transitive-closure dedup — many triangles means "
        "clusters are dense cliques (safe to collapse), few means "
        "chains of borderline pairs (risky). Degree-ordered wedge "
        "counting (node-iterator++ with map-side combine): orient "
        "every edge from the (degree, id)-smaller endpoint to the "
        "larger, build per-node sorted out-neighbor arrays, stream "
        "every wedge (nbrs[i], nbrs[j]) out of a per-row generator "
        "straight into a partial hash aggregate, then close wedges "
        "with ONE skinny SMJ against the oriented edges. Each "
        "triangle {a<b<c} is counted exactly once, as the wedge "
        "(b, c) generated at a. Raw wedges — THETA(sum outdeg^2) "
        "rows, the thing that OOM'd both the join-enumeration form "
        "AND the per-edge array_intersect form on the 10x replicated "
        "corpus — never cross a shuffle: the map-side combine ships "
        "only DISTINCT wedge endpoints with counts (O(m) on "
        "clique-heavy dup graphs vs O(m^1.5) raw), and out-degree "
        "under degree orientation is O(sqrt(m)) so every in-flight "
        "adjacency array stays small.",
    tags=("dedup", "llm", "neardup", "graph"),
)
def graph_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multiple consumers (degree calc, orientation, n_edges) read the
    # edge table; without a materialization the whole jaccard pair
    # pipeline re-executes per consumer (ReusedExchange only covers
    # the shared first exchange). localCheckpoint truncates lineage
    # AND materializes once; DISK_ONLY because the edge set is
    # data-sized — deserialized heap blocks competing with concurrent
    # sort tasks for a small heap is a measured OOM (sf1 drive).
    edges = (
        dedup_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    tri = triangle_count(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri).select("n_edges", "n_triangles")


@register(
    "dedup_rate_by_source",
    oracle="""
    WITH flagged AS (
      SELECT lang, source,
             CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(is_dup) AS BIGINT)   AS n_dupes,
           CAST(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS dup_rate
    FROM flagged
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="Duplicate-rate report by corpus segment: exact-dup flags "
        "(md5 canonical window, same rule as dedup_exact) rolled up "
        "per (lang, source) — the curator's dashboard number that "
        "decides which sources get the aggressive near-dup pass. One "
        "hash-keyed window + one small rollup; only the 32-byte hash "
        "and two integers ever shuffle.",
    tags=("dedup", "llm", "aggregation"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    flagged = docs.select(
        "lang",
        "source",
        F.when(F.col("doc_id") != F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("is_dup"),
    )
    return (
        flagged.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dupes"),
            (F.sum("is_dup").cast("double") / F.count(F.lit(1)))
            .cast("double")
            .alias("dup_rate"),
        )
        .orderBy("lang", "source")
    )


@register(
    "dedup_crosslingual_content",
    oracle="""
    WITH hashed AS (
      SELECT md5(text) AS content_hash, lang, doc_id FROM documents
      WHERE text IS NOT NULL
    ),
    multi AS (
      SELECT content_hash,
             CAST(COUNT(*) AS BIGINT)              AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT)  AS n_langs,
             string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
             CAST(MIN(doc_id) AS BIGINT)           AS canonical_id
      FROM hashed
      GROUP BY content_hash
      HAVING COUNT(DISTINCT lang) > 1
    )
    SELECT content_hash, n_docs, n_langs, langs, canonical_id
    FROM multi
    ORDER BY content_hash
    """,
    doc="Cross-lingual contamination: identical content carrying "
        "DIFFERENT language labels — mislabeled or copy-pasted docs "
        "that per-language dedup would miss entirely (each lang "
        "partition sees it once). One hash-keyed aggregate with a "
        "distinct-lang HAVING gate; the ordered DISTINCT string_agg "
        "is array_join(array_sort(collect_set)) on the Spark side. "
        "Only the 32-byte hash and the lang code ever shuffle.",
    tags=("dedup", "llm", "aggregation"),
)
def dedup_crosslingual_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    hashed = docs.select(
        F.md5("text").alias("content_hash"), "lang", "doc_id"
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_langs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias(
                "langs"
            ),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_langs") > 1)
        .orderBy("content_hash")
    )


@register(
    "dedup_pressure_by_lang",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sig AS (
      {_minhash_signature_sql()}
    ),
    bands AS (
      {_band_rows_sql()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                 AND a.doc_id < b.doc_id
    )
    SELECT LEAST(da.lang, db.lang)    AS lang_a,
           GREATEST(da.lang, db.lang) AS lang_b,
           CAST(COUNT(*) AS BIGINT)   AS n_candidate_pairs
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Near-duplicate pressure by language segment: LSH candidate "
        "pairs attributed to their documents' language pair "
        "(order-normalized via LEAST/GREATEST) — same-language cells "
        "show which sub-corpora need the aggressive near-dup pass, "
        "off-diagonal cells surface cross-language template reuse. "
        "Reuses the shared posting-index/LSH machinery; the lang "
        "attach is two plain equi-joins against the (doc_id, lang) "
        "projection — doc-cardinality, so the join strategy is left "
        "to AQE rather than forcing a data-sized broadcast.",
    tags=("dedup", "llm", "neardup", "lsh", "aggregation"),
)
def dedup_pressure_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = lsh_candidates(spark, sf_dir)
    langs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("la")
    )
    lb = langs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb")
    )
    return (
        cand.join(la, "doc_a")
        .join(lb, "doc_b")
        .groupBy(
            F.least("la", "lb").alias("lang_a"),
            F.greatest("la", "lb").alias("lang_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        .orderBy("lang_a", "lang_b")
    )


# Jaccard thresholds for the sweep below, in integer percent so the
# group key hashes identically in both engines; the comparison itself
# is exact double math (t/100.0 is the same double on both sides).
DEDUP_THRESHOLD_SWEEP = [5, 10, 20, 40, 60, 80]
_SWEEP_SQL = ", ".join(str(t) for t in DEDUP_THRESHOLD_SWEEP)


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    {PAIRS_SQL},
    jpairs AS (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
      FROM pairs
      WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
            >= {JACCARD_THRESHOLD}
    ),
    swept AS (
      SELECT t.t_pct, p.doc_a, p.doc_b
      FROM jpairs p CROSS JOIN
           (SELECT CAST(unnest([{_SWEEP_SQL}]) AS INTEGER) AS t_pct) t
      WHERE p.jaccard >= t.t_pct / 100.0
    ),
    pagg AS (
      SELECT t_pct,
             CAST(COUNT(*) AS BIGINT)              AS n_pairs,
             CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS docs_removed
      FROM swept GROUP BY t_pct
    ),
    dagg AS (
      SELECT t_pct, CAST(COUNT(DISTINCT d) AS BIGINT) AS docs_affected
      FROM (SELECT t_pct, unnest([doc_a, doc_b]) AS d FROM swept)
      GROUP BY t_pct
    )
    SELECT p.t_pct, p.n_pairs, d.docs_affected, p.docs_removed
    FROM pagg p JOIN dagg d USING (t_pct)
    ORDER BY p.t_pct
    """,
    doc=f"Dedup-threshold tuning sweep: for each candidate Jaccard "
        f"threshold (percent: {DEDUP_THRESHOLD_SWEEP}), the exact "
        "consequences of deduping at that bar — surviving near-dup "
        "pairs, distinct documents touched, and documents removed "
        "under the keep-lowest-doc_id rule (a doc is removed iff it "
        "is the higher id in ≥1 surviving pair). This is the curve a "
        "pipeline owner reads before fixing the dedup threshold: too "
        "low destroys legitimate repetition, too high ships "
        "templates. Plan: reuses the one posting-list pair pass "
        "(map-side emission, df-capped) that dedup_jaccard_pairs "
        "already computes, then a map-side explode of the constant "
        "threshold array and of each pair into its two (doc, role) "
        "rows — no threshold-table join, no cartesian, and ONE "
        "evaluation of the pair lineage feeding a single "
        f"{len(DEDUP_THRESHOLD_SWEEP)}-row aggregate (n_pairs rides "
        "the role sum, so no separate pair-count branch). Pair "
        "volume is O(Σ df²) with df ≤ "
        f"{STOP_SHINGLE_MAX_DF} regardless of corpus size.",
    tags=("dedup", "llm", "neardup", "aggregation"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_jaccard_pairs(spark, sf_dir)
    t_col = F.explode(
        F.array(*[F.lit(t).cast("int") for t in DEDUP_THRESHOLD_SWEEP])
    ).alias("t_pct")
    # Each surviving (pair, threshold) row fans out to its two member
    # docs tagged by role; every statistic then folds out of ONE
    # aggregate — n_pairs = Σ is_b (one doc_b row per pair),
    # docs_affected = distinct doc, docs_removed = distinct doc_b.
    roles = F.explode(
        F.array(
            F.struct(F.col("doc_a").alias("d"), F.lit(0).alias("is_b")),
            F.struct(F.col("doc_b").alias("d"), F.lit(1).alias("is_b")),
        )
    ).alias("e")
    return (
        pairs.select("doc_a", "doc_b", "jaccard", t_col)
        .filter(F.col("jaccard") >= F.col("t_pct") / F.lit(100.0))
        .select("t_pct", roles)
        .select("t_pct", "e.d", "e.is_b")
        .groupBy("t_pct")
        .agg(
            F.sum("is_b").cast("bigint").alias("n_pairs"),
            F.count_distinct("d").alias("docs_affected"),
            F.count_distinct(
                F.when(F.col("is_b") == 1, F.col("d"))
            ).alias("docs_removed"),
        )
        .select("t_pct", "n_pairs", "docs_affected", "docs_removed")
        .orderBy("t_pct")
    )


PR_ITERS = 3


def _pagerank_oracle_sql() -> str:
    """Unrolled power-iteration oracle: PR_ITERS is a compile-time
    constant, so each iteration is one (contribution sum, damped
    update) CTE pair over the same LSH pair SQL — the same dissolve-
    the-fixpoint trick as ml_kmeans_lloyd's oracle. Exactness rides
    the fixed-point integer lattice (operators/graph.py:pagerank_integer):
    `//` in DuckDB and `div` in Spark agree on positive BIGINTs."""
    from etl_spark.operators.graph import PR_DAMP, PR_SCALE

    base = (100 - PR_DAMP) * PR_SCALE // 100
    parts = [f"""
    WITH pairs AS MATERIALIZED (
      {REGISTRY["dedup_minhash_lsh"].oracle}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ),
    r0 AS (SELECT src AS id, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg),"""]
    for i in range(1, PR_ITERS + 1):
        p = i - 1
        parts.append(f"""
    s{i} AS (
      SELECT e.dst AS id, SUM(r.pr // g.deg) AS s
      FROM edges e
      JOIN r{p} r ON r.id = e.src
      JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT r{p}.id,
             CAST({base} + ({PR_DAMP} * COALESCE(s{i}.s, 0)) // 100 AS BIGINT) AS pr
      FROM r{p} LEFT JOIN s{i} ON s{i}.id = r{p}.id
    ),""")
    body = "".join(parts).rstrip(",")
    return f"""{body}
    SELECT id AS doc_id, pr AS pagerank FROM r{PR_ITERS} ORDER BY doc_id
    """


@register(
    "graph_dup_pagerank",
    oracle=_pagerank_oracle_sql(),
    doc=f"PageRank centrality over the MinHash-LSH duplicate graph "
        f"({PR_ITERS} power iterations, exact fixed-point integers): "
        "ranks each non-singleton document by how centrally it sits in "
        "its duplication neighborhood. The curation use: inside a dup "
        "cluster the highest-rank doc is the canonical template (most "
        "copies gravitate to it) and low-rank periphery docs are the "
        "mutated variants — a keep-one policy keyed on rank keeps the "
        "representative rather than an arbitrary min-id. Each iteration "
        "is one key join + groupBy (the connected_components shuffle "
        "shape); only the BIGINT rank vector moves between rounds, and "
        "the damped update is exact integer arithmetic so the unrolled "
        "SQL oracle replays it bit-identically (float PageRank would "
        "hash-diverge on summation order).",
    tags=("dedup", "llm", "graph", "pagerank"),
)
def graph_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_spark.operators.graph import pagerank_integer

    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return (
        pagerank_integer(edges, PR_ITERS)
        .select(F.col("id").alias("doc_id"), F.col("pr").alias("pagerank"))
        .orderBy("doc_id")
    )


# Prefix-filtering similarity join threshold: a realistic near-dup bar
# (the 0.05 posting-list queries map the low-similarity background;
# prefix filtering only pays off when t is high enough to shrink the
# indexed prefix).
PREFIX_JACCARD_T = 0.5


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    {PAIRS_SQL}
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (na + nb - n_common) AS jaccard
    FROM pairs
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
          >= {PREFIX_JACCARD_T}
    """,
    doc=f"PPJoin-style prefix-filtered exact similarity join at "
        f"Jaccard ≥ {PREFIX_JACCARD_T}: each rep-doc's shingles are "
        "globally ordered rarest-first (df, then shingle — both "
        "engine-deterministic) and only the PREFIX of length "
        f"n - ceil({PREFIX_JACCARD_T}·n) + 1 is indexed; J ≥ t forces "
        "overlap ≥ ceil(t·max(na,nb)), and two sorted sets with that "
        "overlap must collide inside these prefixes (the prefix-filter "
        "lemma), so candidate generation touches a fraction of the "
        "index the full posting-list queries pay for. Candidates pass "
        "a min ≥ t·max length filter, then exact verification via "
        "array_intersect on the full sorted shingle arrays (SMJ both "
        "sides — corpus-derived, never broadcast). The ORACLE is the "
        "UNFILTERED all-pairs self-join at the same threshold: green "
        "is a completeness proof that the prefix index dropped no "
        "qualifying pair. At scale the win compounds: candidate "
        "volume is O(Σ prefix-df²) with df ≤ the stop-shingle cap, "
        "and the prefix is the RAREST tokens, exactly the ones with "
        "small df.",
    tags=("dedup", "llm", "neardup", "prefix-filter"),
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc shingle array in global rarest-first order. The struct
    # sort is (df, shingle) lexicographic — deterministic in both
    # engines; the oracle never needs it (it replays all pairs).
    # session_cached (r10 opt): this subtree (df join + collect_list +
    # sort) is consumed THREE times in this plan — the prefix explode
    # plus both sides of the verification join — and the executed plan
    # showed zero ReusedExchange across the copies, so every consumer
    # re-ran the join + aggregate. One materialization serves all
    # three (and the label build + quality-lift consumers downstream);
    # at 100 TB this is the prefix index an exact-similarity join
    # materializes anyway.
    def build() -> DataFrame:
        sh = shingles_df(spark, sf_dir)
        df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        return (
            sh.join(df_tbl.hint("merge"), "shingle")
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("df", "shingle"))
                ).alias("arr")
            )
            .select(
                "doc_id",
                F.transform("arr", lambda x: x["shingle"]).alias("shingles"),
                F.size("arr").alias("n_sh"),
            )
        )

    arrs = session_cached("prefix_arrs", spark, sf_dir, build)
    prefix_len = F.col("n_sh") - F.ceil(
        F.lit(PREFIX_JACCARD_T) * F.col("n_sh")
    ).cast("int") + 1
    prefix = arrs.select(
        "doc_id",
        F.explode(F.slice("shingles", 1, prefix_len)).alias("shingle"),
    )
    cand = (
        prefix.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(ordered_pair_structs(F.col("docs"))).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    a = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    b = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    verified = (
        cand.join(a.hint("merge"), "doc_a")
        .join(b.hint("merge"), "doc_b")
        # length filter: J >= t forces min >= t * max
        .filter(
            F.least("na", "nb").cast("double")
            >= F.lit(PREFIX_JACCARD_T) * F.greatest("na", "nb")
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("sh_a", "sh_b"))
        )
    )
    j = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return verified.filter(j >= PREFIX_JACCARD_T).select(
        "doc_a", "doc_b", F.col("n_common").cast("bigint").alias("n_common"),
        j.alias("jaccard"),
    )
