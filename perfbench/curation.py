"""``curation`` workload: the LLM-data half of the headline set.

One pass calls ``REGISTRY[name].builder(spark, sf_dir)`` then
``.count()`` for each op, in ``OPS`` order.
After the loop every op's row count is checked against its DuckDB
oracle, and a third of the queries (chosen by ``seed % 3``, so any
three consecutive seeds cover all of them) are re-run and compared
with the oracle value by value, the way ``tools/drive_contract.py``
compares them.
"""

from __future__ import annotations

import sys

import gen

OPS = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_jaccard_pairs",
    "sim_topk_cosine",
    "sim_nn_within_label",
    "text_langid_ngram",
    "text_top_terms",
    "text_token_stats",
    "mm_decode_png",
)
# Input table each op reads (for rows_per_s).
INPUT_TABLE = {
    "sim_topk_cosine": "embeddings",
    "sim_nn_within_label": "embeddings",
}


class Curation:
    name = "curation"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = str(ctx.rundir / "sf")
        self.counts: dict[str, list[int]] = {op: [] for op in OPS}

    def fixtures(self) -> None:
        self.rows = gen.write_corpus(self.ctx.seed, self.ctx.rundir / "sf")

    def run_pass(self, p: int) -> list[dict]:
        from etl_spark.plans import REGISTRY

        ctx = self.ctx
        ops = []
        for name in OPS:
            rec = {"op": name, "ok": True, "rows": 0}
            with ctx.tracer.span("op", "bench", op=name) as sp:
                try:
                    ctx.tag(f"p{p}:{name}:build")
                    with ctx.tracer.span("builder", "plans", op=name) as b:
                        df = REGISTRY[name].builder(ctx.spark, self.sf_dir)
                    ctx.tag(f"p{p}:{name}:action")
                    with ctx.tracer.span("action", "plans", op=name) as a:
                        n = df.count()
                    rec["build_s"] = b["end"] - b["start"]
                    rec["action_s"] = a["end"] - a["start"]
                    self.counts[name].append(n)
                    rec["rows"] = self.rows[INPUT_TABLE.get(name, "documents")]
                except Exception as exc:  # counted in error_rate
                    print(f"# {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                    rec["ok"] = False
            rec["s"] = sp["end"] - sp["start"]
            ops.append(rec)
        return ops

    def verify(self, passes) -> int:
        """Number of ops whose query's output disagrees with its DuckDB
        oracle (a wrong row count fails that op; a wrong value hash
        fails every op of that query)."""
        import duckdb
        from etl_spark.plans import REGISTRY
        from tools.contract_compare import compare_result

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad = 0
        for i, name in enumerate(OPS):
            try:
                want = con.execute(REGISTRY[name].oracle).df()
                wrong_counts = sum(1 for n in self.counts[name] if n != len(want))
                if i % 3 == self.ctx.seed % 3:
                    got = REGISTRY[name].builder(self.ctx.spark, self.sf_dir).toPandas()
                    if not compare_result(got, want)["ok"]:
                        wrong_counts = len(self.counts[name])
            except Exception as exc:
                print(f"# verify {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                wrong_counts = len(self.counts[name])
            if wrong_counts:
                print(f"# verify {name}: {wrong_counts} wrong op(s)", file=sys.stderr)
            bad += wrong_counts
        con.close()
        return bad
