#!/usr/bin/env python
"""One measurement harness for the repo's timing tools.

``Harness`` starts the engine's session the way ``perfbench/run.py``
does, with extra Spark confs and, traced, the Spark event log passed
from outside through ``PYSPARK_SUBMIT_ARGS``. ``sweep`` times arms
(label -> builder call) rep by rep, reversing the arms' order on odd
reps; every rep starts cold (``evict``, perfbench's rule) and its
builder call and action run under their own Spark job groups. Traced,
leaving the ``with`` block folds the event log into each rep's record
with perfbench's reader.

As a script it is the registry profile: one cold traced rep of each
query (default: bench.py's HEADLINE) at $SPARK_GRAFT_SF_DIR (default:
bench scale, as bench.py), printed as one JSON document:

    python tools/harness.py > PROFILE_rNN.json   # the round's own receipt
    SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 python tools/harness.py q1_pricing_summary
"""

from __future__ import annotations

import json
import os
import pathlib
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from functools import partial
from typing import Any, Callable

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.spans import median, read_event_log, task_skew  # noqa: E402

# A stage whose slowest task ran longer than this is listed in its
# rep's "long_task_stages".
LONG_TASK_S = 0.2


def evict(spark) -> None:
    """Cold start: the catalog cache, the session registry, then the
    memos (trained models, centroids, tables) that survive both."""
    from etl_spark.operators.caching import evict as evict_registry, evict_session_memos

    spark.catalog.clearCache()
    evict_registry()
    evict_session_memos()


def git_head() -> str | None:
    """This checkout's HEAD; None outside a git checkout."""
    git = ["git", "--git-dir", str(ROOT / ".git"), "rev-parse", "HEAD"]
    try:
        done = subprocess.run(git, capture_output=True, text=True)
    except OSError:  # no git on the host
        return None
    return done.stdout.strip() if done.returncode == 0 else None


def best(recs: dict[str, list[dict]]) -> dict[str, float]:
    """A sweep's label -> its fastest rep's seconds; exits naming every
    arm that raised."""
    failed = {label: r[-1]["error"] for label, r in recs.items() if "error" in r[-1]}
    if failed:
        raise SystemExit(f"arms failed: {failed}")
    return {label: min(x["s"] for x in r) for label, r in recs.items()}


class Harness:
    """The session a timing tool measures in, and its records. Use as
    a context manager; ``context`` is set on exit."""

    def __init__(self, app: str, trace: bool = False, confs: dict[str, str] | None = None) -> None:
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        confs = dict(confs or {})
        self.log_dir = tempfile.mkdtemp(prefix="harness-eventlog-") if trace else None
        if trace:
            confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{self.log_dir}",
                          "spark.eventLog.compress": "false"})
        submit = [arg for k, v in confs.items() for arg in ("--conf", f"{k}={v}")]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
        from etl_spark.session import get_spark, tune_session

        self.spark = tune_session(get_spark(app))
        self.spark.sparkContext.setLogLevel("ERROR")
        # perfbench's warm-up: a JVM job, then a Python worker and Arrow round trip.
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.spark.range(64).mapInArrow(lambda it: it, "id long").count()
        self.records: list[dict] = []

    def __enter__(self) -> Harness:
        return self

    def __exit__(self, *exc) -> None:
        self.context = {"cpus": self.cpus, "loadavg": [round(x, 2) for x in os.getloadavg()],
                        "git_head": git_head(), "eviction": "cold"}
        evict(self.spark)  # releases the registry's temp directories
        self.spark.stop()  # flushes the event log
        if self.log_dir is not None:
            groups = read_event_log(pathlib.Path(self.log_dir))
            for rec in self.records:
                build, action = (groups.get(f"{rec['group']}:{part}", {}) for part in ("build", "action"))
                rec.update(self._layers(build, action))
            shutil.rmtree(self.log_dir, ignore_errors=True)

    def sweep(self, arms: dict[str, Callable[[], Any]], reps: int,
              action: Callable[[Any], Any] = lambda df: df.count()) -> dict[str, list[dict]]:
        """Time ``action(build())`` for every arm ``reps`` times, the
        arms in order on even reps and reversed on odd ones. Returns
        label -> one record per rep: build_s, action_s, s (their sum),
        out (the action's result) and the seconds the JVM spent in JIT
        and in Janino compiles. An arm that raises gets an ``error``
        record and runs no more reps."""
        out: dict[str, list[dict]] = {label: [] for label in arms}
        live = list(arms)
        for rep in range(reps):
            for label in live if rep % 2 == 0 else live[::-1]:
                out[label].append(self._rep(label, rep, arms[label], action))
            live = [label for label in live if "error" not in out[label][-1]]
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out

    def _rep(self, label: str, rep: int, build: Callable[[], Any], action: Callable[[Any], Any]) -> dict:
        sc, group = self.spark.sparkContext, f"{label}#{rep}"
        rec: dict = {"arm": label, "rep": rep, "group": group}
        evict(self.spark)
        jit0, janino0 = self._compile_s()
        try:
            sc.setJobGroup(group + ":build", group + ":build")
            t0 = time.perf_counter()
            built = build()
            t1 = time.perf_counter()
            sc.setJobGroup(group + ":action", group + ":action")
            rec["out"] = action(built)
            t2 = time.perf_counter()
        except Exception as exc:  # recorded; the sweep goes on
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
            print(f"# {label} rep {rep}: {rec['error']}", file=sys.stderr)
            return rec
        jit1, janino1 = self._compile_s()
        rec.update(build_s=round(t1 - t0, 4), action_s=round(t2 - t1, 4), s=round(t2 - t0, 4),
                   jit_compile_s=round(jit1 - jit0, 3), janino_compile_s=round(janino1 - janino0, 4))
        self.records.append(rec)
        print(f"# {label} rep {rep}: {rec['s']:.3f} s (build {rec['build_s']:.3f} s)", file=sys.stderr)
        return rec

    def _compile_s(self) -> tuple[float, float]:
        """Seconds the JVM has spent compiling so far: in the JIT, and
        in Janino on Spark's generated code."""
        jvm = self.spark.sparkContext._jvm
        jit_ms = jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
        return jit_ms / 1e3, jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e9

    def _layers(self, build: dict, action: dict) -> dict:
        stage_durs = build.get("stage_durs", []) + action.get("stage_durs", [])
        keys = ("jobs", "stages", "tasks", "cpu_s", "serial_stage_s", "shuffle_bytes", "spill_bytes")
        return {
            "build_jobs": build.get("jobs", 0),
            **{k: round(build.get(k, 0) + action.get(k, 0), 4) for k in keys},
            "long_task_stages": [{"tasks": len(d), "max_task_s": max(d), "median_task_s": round(median(d), 4)}
                                 for d in stage_durs if d and max(d) > LONG_TASK_S],
            "task_skew": round(task_skew({"stage_durs": stage_durs}, self.cpus), 3),
        }


def main() -> int:
    from bench import HEADLINE
    from etl_spark.io import default_sf_dir
    from etl_spark.plans import REGISTRY

    sf_dir = default_sf_dir()
    with Harness("etl-spark-profile", trace=True) as h:
        recs = h.sweep({n: partial(REGISTRY[n].builder, h.spark, sf_dir) for n in sys.argv[1:] or HEADLINE}, 1)
    queries = {n: {"rows" if k == "out" else k: v for k, v in r.items() if k not in ("arm", "rep", "group")}
               for n, (r,) in recs.items()}
    print(json.dumps({**h.context, "sf": sf_dir, "reps_per_query": 1, "queries": queries}, indent=1))
    return 1 if any("error" in q for q in queries.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
