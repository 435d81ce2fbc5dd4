"""The batch half of ``snapshot_etl_stream``: the reference pipeline on
a seeded raw zone.

Set-up lands ``gen.N_EXTRACTIONS`` extractions and materializes the
bucketed snapshot table from them. One pass then runs three ops:

1. ``extract_snapshot`` lands one more extraction through ``FakeApi``
   (seeded transient 503s, retried by ``RetryingSession`` with a no-op
   sleep);
2. ``export_csv(snapshot_records(...))`` recomputes the snapshot over
   the whole zone;
3. ``merge_into_snapshot_table(load_extraction(...))`` merges the new
   extraction into the table.

Between passes (untimed) the new extraction, the CSV and the table are
restored, so every pass starts from the same state.
"""

from __future__ import annotations

import contextlib
from collections import Counter
import os
import shutil
import sys

import gen


class SnapshotEtl:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.zone = ctx.rundir / "zone"
        self.table = ctx.rundir / "table"
        self.pristine = ctx.rundir / "table_pristine"
        self.csv = self.zone / "workflow_runs.csv"
        self.new_ts = gen.extraction_time(gen.N_EXTRACTIONS).strftime("%Y%m%d-%H%M%SZ")
        self.csv_texts: list[str] = []
        self.table_ok: bool | None = None
        self.probes: list[dict] = []

    def fixtures(self) -> None:
        from etl_spark.etl.merge import init_snapshot_table
        from etl_spark.etl.pipeline import snapshot_records

        self.extractions = gen.zone_extractions(self.ctx.seed)
        self.zone_files = gen.write_zone(self.extractions, self.zone, gen.N_EXTRACTIONS)
        self.new_files = sum(len(r) for r in self.extractions[gen.N_EXTRACTIONS].values())
        self.api = gen.FakeApi(self.extractions[gen.N_EXTRACTIONS], self.ctx.seed)
        init_snapshot_table(snapshot_records(self.ctx.spark, self.zone), self.table)
        shutil.copytree(self.table, self.pristine)

    def run_pass(self, p: int) -> list[dict]:
        from etl_spark.etl.ingest import RetryingSession
        from etl_spark.etl.merge import load_extraction, merge_into_snapshot_table
        from etl_spark.etl.pipeline import export_csv, snapshot_records
        from etl_spark.etl.raw_zone import extract_snapshot

        ctx = self.ctx
        spark = ctx.spark
        self.api.reset()
        steps = (
            ("extract", "etl.raw_zone", self.new_files, lambda: extract_snapshot(
                RetryingSession(self.api, sleep_function=lambda _s: None),
                self.zone, gen.extraction_time(gen.N_EXTRACTIONS))),
            ("recompute", "etl.pipeline", self.zone_files + self.new_files, lambda: export_csv(
                snapshot_records(spark, self.zone), self.csv)),
            ("merge", "etl.merge", self.new_files, lambda: merge_into_snapshot_table(
                spark, self.table, load_extraction(spark, self.zone, self.new_ts))),
        )
        ops = []
        for name, layer, rows, call in steps:
            rec = {"op": name, "ok": True, "rows": rows}
            with ctx.tracer.span("op", "bench", op=name) as sp:
                ctx.tag(f"p{p}:{name}")
                try:
                    # RetryingSession reports each retry on stdout, which
                    # carries only the result line here.
                    with contextlib.redirect_stdout(sys.stderr), ctx.tracer.span(name, layer, op=name):
                        call()
                except Exception as exc:  # counted in error_rate
                    print(f"# {name} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                    rec["ok"] = False
            rec["s"] = sp["end"] - sp["start"]
            ops.append(rec)
        return ops

    def after_pass(self, p: int) -> None:
        """Untimed: keep what the checks need, then restore the zone
        and the table."""
        from etl_spark.etl.merge import read_snapshot_table
        from etl_spark.etl.pipeline import snapshot_records

        spark = self.ctx.spark
        self.csv_texts.append(self.csv.read_text() if self.csv.exists() else "")
        if self.ctx.trace:
            self.probes.append(self._probe())
        if self.table_ok is None:
            cols = sorted(read_snapshot_table(spark, self.table).columns)
            got = read_snapshot_table(spark, self.table).select(*cols).collect()
            want = snapshot_records(spark, self.zone).select(*cols).collect()
            self.table_ok = Counter(map(tuple, got)) == Counter(map(tuple, want))
        for repo_dir in self.zone.iterdir():
            if (repo_dir / self.new_ts).is_dir():
                shutil.rmtree(repo_dir / self.new_ts)
        self.csv.unlink(missing_ok=True)
        shutil.rmtree(self.table)
        shutil.copytree(self.pristine, self.table)

    def _probe(self) -> dict:
        from etl_spark.etl.merge import load_extraction
        from etl_spark.etl.pipeline import load_workflow_runs

        spark = self.ctx.spark
        changed = sum(
            1 for d in self.table.iterdir()
            if d.is_dir() and (not (self.pristine / d.name).exists()
                               or _mtimes(d) != _mtimes(self.pristine / d.name))
        )
        return {
            "files_written": sum(len(fs) for root, _, fs in os.walk(self.zone) if self.new_ts in root),
            "api_gets": self.api.gets,
            "retries": self.api.errors,
            "recompute_files": len(load_workflow_runs(spark, self.zone).inputFiles()),
            "merge_files": len(load_extraction(spark, self.zone, self.new_ts).inputFiles()),
            "buckets_rewritten": changed,
        }

    def verify(self, passes) -> int:
        """Number of ops whose output was wrong."""
        want = gen.expected_csv(self.extractions, gen.N_EXTRACTIONS + 1)
        bad = sum(1 for text in self.csv_texts if text != want)
        if bad:
            print(f"# verify recompute: {bad} CSV mismatch(es)", file=sys.stderr)
        if not self.table_ok:
            print("# verify merge: table != recomputed snapshot", file=sys.stderr)
            bad += 1
        return bad

    def layer_metrics(self, passes) -> dict[str, float]:
        from spans import median

        def op_s(name):
            return median(o["s"] for ps in passes for o in ps["ops"] if o["op"] == name)

        pr = self.probes or [{}]

        def probe(key):
            return median(x.get(key, 0) for x in pr)

        merge_files = probe("merge_files")
        return {
            "etl.raw_zone.extract_s": op_s("extract"),
            "etl.raw_zone.files_written": probe("files_written"),
            "etl.raw_zone.api_gets": probe("api_gets"),
            "etl.raw_zone.retries": probe("retries"),
            "etl.pipeline.recompute_s": op_s("recompute"),
            "etl.pipeline.files_scanned": probe("recompute_files"),
            "etl.merge.merge_s": op_s("merge"),
            "etl.merge.files_scanned": merge_files,
            "etl.merge.scan_ratio": self.new_files / merge_files if merge_files else 0.0,
            "etl.merge.buckets_rewritten": probe("buckets_rewritten"),
        }


def _mtimes(d) -> list[tuple[str, int]]:
    return sorted((f.name, f.stat().st_mtime_ns) for f in d.iterdir())
