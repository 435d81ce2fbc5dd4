"""Deterministic sampling for training-data curation (SURVEY.md §2.3).

Large-scale pipelines never use engine RNG sampling (`df.sample`) for
dataset construction: the sample must be REPRODUCIBLE across engines,
re-runs, and partitionings, and auditable row by row. The standard
trick is hash-gating — keep a row iff a stable hash of its key falls
under the target rate. md5 is bit-identical in Spark and DuckDB, so
the sample is oracle-checkable exactly, and the decision is a narrow
map: no shuffle, no state, embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.functions.hashing import md5_int, md5_int_sql
from etl_spark.io import load
from etl_spark.plans.registry import register

# Per-language keep rates: the mixture-rebalancing case — English
# dominates every web corpus, so it is downsampled while the rarer
# languages are kept whole.
LANG_RATES = {"en": 0.25, "zh": 0.5}
DEFAULT_RATE = 1.0

# Hash bucket space: first 4 md5 hex chars → [0, 65536).
_BUCKETS = 16 ** 4



def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {int(rate * _BUCKETS)}"
        for lang, rate in LANG_RATES.items()
    )
    return f"CASE {whens} ELSE {int(DEFAULT_RATE * _BUCKETS)} END"


@register(
    "sample_stratified_docs",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(h AS BIGINT) AS hash_bucket
    FROM (
      SELECT doc_id, lang, source,
             {md5_int_sql("CAST(doc_id AS VARCHAR)", 4)} AS h
      FROM documents
    )
    WHERE h < ({_rate_case_sql()})
    """,
    doc="Reproducible stratified sampling: keep a document iff the "
        "integer value of its doc_id's 4-char md5 prefix falls under "
        "the per-language rate threshold (en 25%, zh 50%, rest 100%). "
        "Hash-gating — not RNG — so the sample is identical across "
        "engines, re-runs, and partitionings, and each kept row is "
        "auditable. Pure narrow map: zero shuffles at any scale.",
    tags=("sampling", "llm", "curation"),
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = md5_int(F.col("doc_id").cast("string"), 4)
    threshold = F.lit(int(DEFAULT_RATE * _BUCKETS))
    for lang, rate in reversed(list(LANG_RATES.items())):
        threshold = F.when(
            F.col("lang") == lang, F.lit(int(rate * _BUCKETS))
        ).otherwise(threshold)
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", h.alias("hash_bucket"))
        .filter(F.col("hash_bucket") < threshold)
    )


SAMPLE_K_PER_GROUP = 5


@register(
    "sample_fixed_k_per_group",
    oracle=f"""
    SELECT doc_id, lang, rnk
    FROM (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS INTEGER) AS rnk
      FROM documents
    )
    WHERE rnk <= {SAMPLE_K_PER_GROUP}
    ORDER BY lang, rnk
    """,
    doc=f"Exact-k-per-group reproducible sampling: rank each group's "
        f"rows by the md5 of their key (a uniform, engine-identical "
        f"shuffle of the group) and keep the first {SAMPLE_K_PER_GROUP} "
        "— the deterministic equivalent of per-stratum reservoir "
        "sampling, used when a quota must be EXACT (eval-set "
        "construction, per-language probes) rather than a rate like "
        "sample_stratified_docs. One shuffle on the group key; at "
        "scale the rank is a TopK per group (window + filter "
        "pushes the limit into the sort), never a global sort.",
    tags=("sampling", "llm", "curation"),
)
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    )
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id", "lang", F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= SAMPLE_K_PER_GROUP)
        .orderBy("lang", "rnk")
    )
