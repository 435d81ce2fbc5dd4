#!/usr/bin/env python
"""Randomized cross-engine parity fuzzer: seeded random corpora for
EVERY table family — documents, embeddings, the seven TPC-H-ish
relational tables (FK-consistent with deliberate orphans), events,
and the mixed cross-family joins — driven through ALL oracle-paired
queries and compared row/schema/value against DuckDB; the
property-based generalization of tests/test_edge_corpus_parity.py's
fixed 13-doc corpus.

The generators are adversarial on purpose: exact and near duplicates,
empty and NULL text, unicode (CJK/emoji/combining), whitespace
pathologies, single-token spam docs, NULL langs/sources/props,
timestamp ties on the latest-wins key, boundary values. Anything the
fixed edge corpus hand-picks, this draws at random across seeds — an
engine/oracle divergence on ANY drawn corpus is a real bug in one of
the two sides (both engines see byte-identical parquet).

Usage: python tools/fuzz_parity.py [n_seeds] [--docs-only|--events-only|--skew]
(documents/embeddings/relational/mixed/events per seed; 161 queries)
Writes a per-seed PASS/FAIL summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.contract_compare import compare_result, oracle_connection  # noqa: E402

_TBL = re.compile(
    r"\b(region|nation|customer|supplier|part|orders|lineitem|events|"
    r"documents|embeddings)\b"
)

LANGS = ["en", "fr", "de", "es", "zh"]
SOURCES = [f"src{i}" for i in range(20)]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]

UNICODE_SNIPPETS = [
    "你好 世界 测试 文档",
    "emoji 🙂 mixed 🚀 tokens",
    "café déjà vu naïve",
    "niño über straße",
]


def _vocab(rng: random.Random, n: int = 60) -> list[str]:
    return [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(2, 8)))
        for _ in range(n)
    ]


def gen_documents(rng: random.Random, n: int) -> list[tuple]:
    vocab = _vocab(rng)
    rows: list[tuple] = []
    texts: list[str] = []
    for doc_id in range(n):
        roll = rng.random()
        if roll < 0.05:
            text = ""
        elif roll < 0.08:
            text = None
        elif roll < 0.13 and texts:
            text = rng.choice(texts)  # exact duplicate
        elif roll < 0.20 and texts:
            toks = rng.choice(texts).split(" ")  # near duplicate
            if toks:
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            text = " ".join(toks)
        elif roll < 0.25:
            text = rng.choice(UNICODE_SNIPPETS)
        elif roll < 0.30:
            text = " " + "  ".join(rng.choice(vocab) for _ in range(3)) + " "
        elif roll < 0.35:
            text = " ".join([rng.choice(vocab)] * rng.randint(1, 40))  # spam
        else:
            text = " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 80))
            )
        if text is not None and text != "" and not text.isspace():
            texts.append(text)
        lang = None if rng.random() < 0.03 else rng.choice(LANGS)
        source = None if rng.random() < 0.03 else rng.choice(SOURCES)
        n_chars = None if text is None else len(text)
        rows.append((doc_id, text, lang, source, n_chars))
    return rows


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def gen_documents_skewed(rng: random.Random, n: int) -> list[tuple]:
    """Adversarially SKEWED corpus: one boilerplate template duplicated
    exactly (collapsed to one representative by rep_docs), a LARGE
    tranche of near-dups of it (one token perturbed — each a DISTINCT
    text, so every unperturbed template shingle's rep-space df is the
    tranche size), and a normal background — the hot-key shape that
    makes naive pair joins quadratic. Tranche sizing (r11 verdict
    receipt): near-dups are 2/3 of the corpus, so at n=12000 the hot
    shingles' df is ~8000 ≈ 125× STOP_SHINGLE_MAX_DF — the cap must
    drop them and keep candidate emission bounded; the perturbed
    tokens' shingles stay under the cap and still pair the near-dups.
    Volume is set above the sf0.1 documents table (5000 rows) so the
    receipt speaks for bench scale."""
    vocab = _vocab(rng, 80)
    template = " ".join(rng.choice(vocab) for _ in range(40))
    n_template = n // 6
    n_near = (n * 2) // 3
    rows: list[tuple] = []
    doc_id = 0
    for _ in range(n_template):
        rows.append((doc_id, template, "en", "boilerplate", len(template)))
        doc_id += 1
    for _ in range(n_near):
        toks = template.split(" ")
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
        text = " ".join(toks)
        rows.append((doc_id, text, "en", "near", len(text)))
        doc_id += 1
    for r in gen_documents(rng, n - doc_id):
        rows.append((r[0] + doc_id, r[1], r[2], r[3], r[4]))
    return rows


def gen_relational(rng: random.Random, n_orders: int) -> dict[str, tuple]:
    """All seven TPC-H-ish tables, FK-consistent except deliberate
    orphan keys (~2-3%) so inner/semi/anti join paths and empty join
    partners get exercised. Money columns are exactly-2-decimal
    doubles (the engines' cents quantization relies on that, same as
    the driver's generator); quantities are integer-valued with a few
    zeros; discounts hit the 0 and 0.10 boundaries q6-style predicates
    filter on."""
    import datetime

    def money(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    def dt(start_year: int = 1995, years: int = 7) -> datetime.datetime:
        base = datetime.datetime(start_year, 1, 1)
        d = base + datetime.timedelta(days=rng.randint(0, years * 365))
        if rng.random() < 0.02:  # a few non-midnight stamps
            d += datetime.timedelta(seconds=rng.randint(1, 86399))
        return d

    region = [(i, REGIONS[i]) for i in range(5)]
    nation = [(i, f"NATION_{i}", rng.randrange(5)) for i in range(25)]
    n_cust, n_supp, n_part = 80, 20, 40
    customer = [
        (k, f"Customer#{k:09d}", rng.randrange(25),
         money(-999.99, 9999.99) if rng.random() > 0.05 else 0.0,
         rng.choice(SEGMENTS))
        for k in range(1, n_cust + 1)
    ]
    supplier = [
        (k, f"Supplier#{k:09d}", rng.randrange(25),
         money(-999.99, 9999.99))
        for k in range(1, n_supp + 1)
    ]
    part = [
        (k, " ".join(rng.choice(["lace", "tan", "misty", "steel",
                                 "green", "promo"]) for _ in range(3)),
         f"Brand#{rng.randint(1, 15)}", rng.choice(PTYPES),
         rng.randint(1, 50), money(900.0, 920.0))
        for k in range(1, n_part + 1)
    ]
    orders = []
    for k in range(1, n_orders + 1):
        custkey = (rng.randint(n_cust + 1, n_cust + 10)
                   if rng.random() < 0.03 else rng.randint(1, n_cust))
        orders.append((k, custkey, rng.choice("POF"),
                       money(900.0, 500000.0), dt(),
                       rng.choice(PRIORITIES)))
    lineitem = []
    for okey, *_ in orders:
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            if rng.random() < 0.01:
                qty = 0.0
            disc = rng.choice(
                [0.0, 0.01, 0.02, 0.04, 0.05, 0.06, 0.08, 0.1]
            )
            lineitem.append((
                okey if rng.random() > 0.02 else n_orders + rng.randint(1, 9),
                rng.randint(1, n_part + (2 if rng.random() < 0.05 else 0)),
                rng.randint(1, n_supp),
                ln, qty, money(900.0, 105000.0), disc,
                rng.choice([0.0, 0.02, 0.04, 0.06, 0.08]),
                rng.choice("ANR"), rng.choice("FO"), dt(),
            ))
    return {
        "region": (region, "r_regionkey int, r_name string"),
        "nation": (nation, "n_nationkey int, n_name string, n_regionkey int"),
        "customer": (customer, "c_custkey bigint, c_name string, "
                     "c_nationkey int, c_acctbal double, c_mktsegment string"),
        "supplier": (supplier, "s_suppkey bigint, s_name string, "
                     "s_nationkey int, s_acctbal double"),
        "part": (part, "p_partkey bigint, p_name string, p_brand string, "
                 "p_type string, p_size int, p_retailprice double"),
        "orders": (orders, "o_orderkey bigint, o_custkey bigint, "
                   "o_orderstatus string, o_totalprice double, "
                   "o_orderdate timestamp, o_orderpriority string"),
        "lineitem": (lineitem, "l_orderkey bigint, l_partkey bigint, "
                     "l_suppkey bigint, l_linenumber int, l_quantity double, "
                     "l_extendedprice double, l_discount double, "
                     "l_tax double, l_returnflag string, "
                     "l_linestatus string, l_shipdate timestamp"),
    }


def gen_embeddings(rng: random.Random, n: int) -> list[tuple]:
    import struct

    def f32(x: float) -> float:
        # parquet stores float32; pre-round so Python-side expectations
        # match what both engines read back
        return struct.unpack("f", struct.pack("f", x))[0]

    DIM = 64
    rows: list[tuple] = []
    vecs: list[list[float]] = []
    for vec_id in range(n):
        roll = rng.random()
        if roll < 0.05:
            v = [0.0] * DIM  # zero vector (cosine guard path)
        elif roll < 0.13 and vecs:
            v = list(rng.choice(vecs))  # exact duplicate
        elif roll < 0.18 and vecs:
            v = list(rng.choice(vecs))  # near duplicate
            v[rng.randrange(DIM)] = f32(rng.uniform(-0.6, 0.6))
        elif roll < 0.21:
            v = [f32(rng.uniform(-1e-6, 1e-6)) for _ in range(DIM)]
        elif roll < 0.24:
            v = [f32(rng.uniform(-100.0, 100.0)) for _ in range(DIM)]
        else:
            v = [f32(rng.uniform(-0.6, 0.6)) for _ in range(DIM)]
        vecs.append(v)
        rows.append((vec_id, v, rng.randint(0, 9)))
    return rows


def gen_events(rng: random.Random, n: int) -> list[tuple]:
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows: list[tuple] = []
    prev_ts: list[datetime.datetime] = []
    for event_id in range(n):
        roll = rng.random()
        if roll < 0.04 and prev_ts:
            ts = rng.choice(prev_ts)  # exact timestamp tie
        else:
            ts = base + datetime.timedelta(
                microseconds=rng.randint(0, 89 * 24 * 3600 * 1_000_000)
            )
        prev_ts.append(ts)
        user_id = rng.randint(0, 30)
        event_type = rng.choice(EVENT_TYPES)
        value = round(rng.uniform(0.01, 500.0), 2)
        if rng.random() < 0.03:
            value = rng.choice([0.01, 500.0, 0.02])
        props = None if rng.random() < 0.05 else '{"k": %d}' % rng.randint(0, 99)
        rows.append((event_id, ts, user_id, event_type, value, props))
    return rows


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_seeds = int(args[0]) if args else 5
    docs_only = "--docs-only" in sys.argv
    events_only = "--events-only" in sys.argv
    skew = "--skew" in sys.argv

    from etl_spark.plans import REGISTRY
    from etl_spark.session import get_spark, tune_session

    spark = get_spark("fuzz-parity")
    tune_session(spark)

    REL = {"region", "nation", "customer", "supplier", "part",
           "orders", "lineitem"}
    doc_queries, ev_queries, emb_queries, rel_queries = [], [], [], []
    mixed_queries = []
    for name, q in sorted(REGISTRY.items()):
        if q.oracle is None:
            continue
        tables = set(_TBL.findall(q.oracle))
        if tables == {"documents"}:
            doc_queries.append(name)
        elif tables == {"events"}:
            ev_queries.append(name)
        elif tables == {"embeddings"}:
            emb_queries.append(name)
        elif tables and tables <= REL:
            rel_queries.append(name)
        else:
            mixed_queries.append(name)

    def one_table(gen, schema, n_rows, table):
        def build(rng):
            return {table: (gen(rng, n_rows), schema)}
        return build

    plan = []
    if skew:
        # Skew receipt mode: ONLY the hot-key corpus, at sf0.1-scale
        # volume. Also prints the posting-list df histogram before and
        # after the stop-shingle cap — the statistic that bounds
        # per-shingle pair emission to cap^2/2 (SCALING.md).
        plan.append(("documents-skew", doc_queries, one_table(
            gen_documents_skewed,
            "doc_id bigint, text string, lang string, "
            "source string, n_chars bigint", 12000, "documents")))
    elif not events_only:
        plan.append(("documents", doc_queries, one_table(
            gen_documents,
            "doc_id bigint, text string, lang string, "
            "source string, n_chars bigint", 120, "documents")))
    if not docs_only and not events_only and not skew:
        plan.append(("embeddings", emb_queries, one_table(
            gen_embeddings,
            "vec_id bigint, embedding array<float>, label int",
            150, "embeddings")))
        plan.append(("relational", rel_queries,
                     lambda rng: gen_relational(rng, 150)))

        def build_mixed(rng):
            tables = gen_relational(rng, 100)
            tables["documents"] = (
                gen_documents(rng, 120),
                "doc_id bigint, text string, lang string, "
                "source string, n_chars bigint")
            tables["events"] = (
                gen_events(rng, 300),
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double, props string")
            return tables

        plan.append(("mixed", mixed_queries, build_mixed))
    if not docs_only and not skew:
        plan.append(("events", ev_queries, one_table(
            gen_events,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string", 400,
            "events")))

    from etl_spark.operators.caching import evict

    def print_skew_histogram(d: str) -> None:
        """Posting-list df histogram BEFORE vs AFTER the stop-shingle
        cap — df is what bounds per-shingle pair emission (cap^2/2
        after, hot-df^2/2 before). Recorded in SCALING.md."""
        import etl_spark.plans.llm_dedup as dd
        from pyspark.sql import functions as F

        raw_df = (
            dd._raw_shingles(spark, d).groupBy("shingle")
            .count().select(F.col("count").alias("df"))
        )
        kept_df = dd.posting_lists(spark, d).select(
            F.size("docs").alias("df")
        )
        for label, frame in (("before-cap", raw_df), ("after-cap", kept_df)):
            qs = frame.approxQuantile("df", [0.5, 0.9, 0.99, 1.0], 0.0)
            n = frame.count()
            print(
                f"skew df {label}: n_shingles={n} "
                f"p50={qs[0]:.0f} p90={qs[1]:.0f} p99={qs[2]:.0f} "
                f"max={qs[3]:.0f} worst_pair_emission={qs[3]**2/2:.0f}"
            )

    total_fail = 0
    for seed in range(n_seeds):
        rng = random.Random(1000 + seed)
        for family, queries, build in plan:
            d = tempfile.mkdtemp(prefix=f"fuzz_{family}_{seed}_")
            try:
                con = oracle_connection()
                for table, (rows, schema) in build(rng).items():
                    spark.createDataFrame(rows, schema).coalesce(
                        1
                    ).write.parquet(f"{d}/{table}.parquet")
                    con.execute(
                        f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{d}/{table}.parquet/*.parquet'"
                    )
                # per-corpus caches must not leak across corpora
                evict()
                n_fail = 0
                t0 = time.time()
                for name in queries:
                    q = REGISTRY[name]
                    try:
                        spdf = q.builder(spark, d).toPandas()
                        ddf = con.execute(q.oracle).df()
                    except Exception as ex:
                        print(f"FAIL seed={seed} {name}: raised "
                              f"{type(ex).__name__}: {str(ex)[:300]}")
                        n_fail += 1
                        continue
                    r = compare_result(spdf, ddf, max_diffs=3)
                    if not r["ok"]:
                        print(f"FAIL seed={seed} {name}: spark={len(spdf)} "
                              f"duck={len(ddf)} cols={r['cols_ok']} "
                              f"dtype={r['dtype_ok']}{r['dtype_detail']} "
                              f"vals={r['val_ok']}")
                        for x, y in r["diffs"]:
                            print(f"  spark={x}\n  duck ={y}")
                        n_fail += 1
                con.close()
                if family == "documents-skew":
                    print_skew_histogram(d)
                status = "PASS" if n_fail == 0 else f"{n_fail} FAILURES"
                print(f"seed={seed} {family}: {len(queries)} queries "
                      f"{status}  ({time.time()-t0:.0f}s)")
                total_fail += n_fail
            finally:
                shutil.rmtree(d, ignore_errors=True)
    evict()

    print("FUZZ ALL GREEN" if total_fail == 0 else
          f"FUZZ {total_fail} TOTAL FAILURES")
    sys.exit(1 if total_fail else 0)


if __name__ == "__main__":
    main()
