#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client runs passes of
the workload until ``--seconds`` have elapsed (at least one pass; a
pass that has started always finishes), checks the outputs, and prints
one JSON result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run with the Spark event log enabled from outside the program
(``PYSPARK_SUBMIT_ARGS``), Spark jobs tagged per op with
``setJobGroup``, and extra probes; it reports the per-layer metrics and
writes every span plus those metrics to
``.perfbench_out/trace-<workload>-seed<seed>-<pid>.json``.
"""

from __future__ import annotations

import os
import time

T0 = time.perf_counter()


def _since_process_start() -> float:
    """Seconds from process start (per /proc) to now."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


PRE_S = _since_process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import pathlib  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

from spans import Tracer, install_cache_probe, median, read_event_log, task_skew  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent

END_TO_END = ("setup_s", "pass_s", "pass_cpu_s", "op_s.p50")


class Ctx:
    """What the workloads share: the session, the tracer and the run."""

    def __init__(self, workload: str, seed: int, trace: bool, rundir: pathlib.Path, cores: int):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.rundir = rundir
        self.cores = cores
        self.tracer = Tracer()
        self.spark = None

    def tag(self, group: str) -> None:
        """Tag the Spark jobs of the next call with its op (traced run)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)


class Sequence:
    """A workload whose pass runs its parts' passes back to back."""

    def __init__(self, name: str, parts: list) -> None:
        self.name = name
        self.parts = parts

    def fixtures(self) -> None:
        for part in self.parts:
            part.fixtures()

    def run_pass(self, p: int) -> list[dict]:
        return [op for part in self.parts for op in part.run_pass(p)]

    def after_pass(self, p: int) -> None:
        for part in reversed(self.parts):  # stop the stream first
            part.after_pass(p)

    def verify(self, passes) -> int:
        return sum(part.verify(passes) for part in self.parts)

    def group_pass(self, group: str) -> int | None:
        for part in self.parts:
            p = getattr(part, "group_pass", lambda _g: None)(group)
            if p is not None:
                return p
        return None

    def layer_metrics(self, passes) -> dict[str, float]:
        out: dict[str, float] = {}
        for part in self.parts:
            out.update(part.layer_metrics(passes))
        return out


def _workload(name: str, ctx: Ctx):
    if name == "curation":
        from curation import Curation

        return Curation(ctx)
    if name == "snapshot_etl_stream":
        from snapshot_etl import SnapshotEtl
        from stream import StreamLatestWins

        return Sequence(name, [SnapshotEtl(ctx), StreamLatestWins(ctx)])
    raise SystemExit(f"unknown workload {name!r}")


def _evict(spark) -> None:
    """Engine caches, evicted from outside before every pass."""
    from etl_spark.operators.caching import evict, evict_session_memos

    spark.catalog.clearCache()
    evict()
    evict_session_memos()


def _pin_host(rundir: pathlib.Path, trace: bool) -> int:
    """Size the session for this host from outside the program."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_MASTER", None)
    # Well below host RAM, which the host shares; the workloads' inputs
    # need far less.
    mem_mb = 1536
    try:
        with open("/proc/meminfo") as fh:
            total_kb = int(fh.readline().split()[1])
        mem_mb = min(mem_mb, total_kb // 1024 // 4)
    except (OSError, ValueError, IndexError):
        pass
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_mb}m"
    tmp = rundir / "tmp"
    local = rundir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # -XX:-UsePerfData: each JVM (the launcher's and the driver's) would
    # otherwise write hsperfdata under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        log_dir = rundir / "eventlog"
        log_dir.mkdir()
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return cores


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children's) used so
    far by this process and every process under it: the JVM, its
    Python workers and their daemon. Less sensitive than wall time to
    other load on the host."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def _git_head() -> str | None:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


def _plan_metrics(passes, groups, cores) -> dict[str, float]:
    """plans.* from the job groups of builder and action calls."""
    per_pass = []
    for p, ps in enumerate(passes):
        acc = dict.fromkeys(("build_jobs", "jobs", "stages", "tasks", "cpu_s", "serial_stage_s",
                             "skew", "shuffle", "spill", "gc"), 0.0)
        for op in ps["ops"]:
            b = groups.get(f"p{p}:{op['op']}:build", {})
            a = groups.get(f"p{p}:{op['op']}:action", {})
            acc["build_jobs"] += b.get("jobs", 0)
            for key in ("jobs", "stages", "tasks", "cpu_s"):
                acc[key] += a.get(key, 0)
            for rec in (a, b):
                acc["serial_stage_s"] += rec.get("serial_stage_s", 0.0)
                acc["skew"] = max(acc["skew"], task_skew(rec, cores))
                acc["shuffle"] += rec.get("shuffle_bytes", 0)
                acc["spill"] += rec.get("spill_bytes", 0)
                acc["gc"] += rec.get("gc_s", 0.0)
        acc["build_s"] = sum(op.get("build_s", 0.0) for op in ps["ops"])
        acc["exec_s"] = sum(op.get("action_s", 0.0) for op in ps["ops"])
        per_pass.append(acc)

    def m(key):
        return median(a[key] for a in per_pass)

    return {
        "plans.build_s": m("build_s"),
        "plans.build_jobs": m("build_jobs"),
        "plans.exec_s": m("exec_s"),
        "plans.jobs": m("jobs"),
        "plans.stages": m("stages"),
        "plans.tasks": m("tasks"),
        "plans.cpu_ratio": median(a["cpu_s"] / (a["exec_s"] * cores) if a["exec_s"] else 0.0 for a in per_pass),
        "plans.serial_stage_s": m("serial_stage_s"),
        "plans.task_skew": m("skew"),
        "plans.shuffle_bytes": m("shuffle"),
        "plans.spill_bytes": m("spill"),
        "plans.gc_s": m("gc"),
    }


def _io_metrics(passes, groups, group_pass) -> dict[str, float]:
    acc = [dict.fromkeys(("files_read", "bytes_read", "records_read"), 0) for _ in passes]
    for name, rec in groups.items():
        p = group_pass(name)
        if p is not None and p < len(acc):
            for k in acc[p]:
                acc[p][k] += rec.get(k, 0)
    return {f"io.{k}": median(a[k] for a in acc) for k in ("files_read", "bytes_read", "records_read")}


def _cache_metrics(events, passes) -> dict[str, float]:
    hits = sum(1 for e in events if not e["miss"])
    misses = len(events) - hits
    n = len(passes)
    return {
        "operators.caching.hits": hits / n,
        "operators.caching.misses": misses / n,
        "operators.caching.hit_ratio": hits / len(events) if events else 0.0,
        "operators.caching.build_s": sum(e["s"] for e in events if e["miss"]) / n,
    }


def _group_pass(wl, group: str) -> int | None:
    """Pass a job group belongs to: ``p<pass>:...`` tags set by the
    benchmark, or a streaming run id the workload knows."""
    p = getattr(wl, "group_pass", lambda _g: None)(group)
    if p is None and group.startswith("p") and ":" in group:
        head = group[1:].split(":", 1)[0]
        p = int(head) if head.isdigit() else None
    return p


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    if not (ROOT / "etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no etl_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    rundir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    rundir.mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        cores = _pin_host(rundir, trace)
        ctx = Ctx(args.workload, args.seed, trace, rundir, cores)
        tracer = ctx.tracer
        wl = _workload(args.workload, ctx)
        with tracer.span("run", "bench"):
            with tracer.span("setup", "bench"):
                with tracer.span("import", "session") as s_imp:
                    import pyspark  # noqa: F401
                    import etl_spark.etl.merge  # noqa: F401
                    import etl_spark.plans  # noqa: F401
                    import etl_spark.streaming.latest_wins  # noqa: F401
                    from etl_spark.session import get_spark, tune_session
                with tracer.span("start", "session") as s_start:
                    spark = tune_session(get_spark(f"perfbench-{args.workload}"))
                    spark.sparkContext.setLogLevel("ERROR")
                    ctx.spark = spark
                    spark.range(1000).selectExpr("sum(id)").collect()
                with tracer.span("warmup", "session") as s_warm:
                    # Smoke warm-up: a Python worker + Arrow round trip.
                    spark.range(64).mapInArrow(lambda it: it, "id long").count()
                with tracer.span("fixtures", "bench"):
                    wl.fixtures()
                cache_events = install_cache_probe(tracer) if trace else []
            setup_s = PRE_S + (time.perf_counter() - T0)
            setup_cpu_s = _tree_cpu_s()

            passes: list[dict] = []
            held = []
            with tracer.span("workload", "bench", workload=args.workload):
                loop0 = time.perf_counter()
                while True:
                    _evict(spark)
                    if trace:
                        from etl_spark.operators.caching import live_caches

                        held.append(sum(live_caches().values()))
                    p = len(passes)
                    cpu0 = _tree_cpu_s()
                    with tracer.span("pass", "bench", pass_no=p) as sp:
                        ops = wl.run_pass(p)
                    cpu = _tree_cpu_s() - cpu0
                    passes.append({"s": sp["end"] - sp["start"], "cpu_s": cpu, "ops": ops})
                    if hasattr(wl, "after_pass"):
                        wl.after_pass(p)
                    if time.perf_counter() - loop0 >= args.seconds:
                        break
            peak_rss = _vm_hwm_mb("self")
            gw = spark.sparkContext._gateway
            if getattr(gw, "proc", None) is not None:
                peak_rss += _vm_hwm_mb(gw.proc.pid)

        # Untimed output checks.
        t_verify = time.perf_counter()
        wrong = wl.verify(passes)
        t_verify = time.perf_counter() - t_verify
        attempted = sum(len(ps["ops"]) for ps in passes)
        failed = min(attempted, sum(1 for ps in passes for o in ps["ops"] if not o["ok"]) + wrong)

        ok_ops = [o for ps in passes for o in ps["ops"] if o["ok"]]
        e2e = {
            "setup_s": setup_s,
            "pass_s": median(ps["s"] for ps in passes),
            "pass_cpu_s": median(ps["cpu_s"] for ps in passes),
            "op_s.p50": median(o["s"] for o in ok_ops),
        }
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus": cores, "loadavg": os.getloadavg(), "git_head": _git_head(),
            "passes": len(passes), "ops": attempted, "verify_s": round(t_verify, 3),
            "setup_cpu_s": round(setup_cpu_s, 2),
            # Recorded, not bounded: the JVM's resident peak moves with
            # collector timing by about 20% between runs, and rows_per_s
            # is a fixed row count over pass_s.
            "peak_rss_mb": round(peak_rss, 1),
            "rows_per_s": sum(o["rows"] for o in ok_ops) / sum(ps["s"] for ps in passes),
            "pass_walls": [round(ps["s"], 3) for ps in passes],
            "op_walls": [{o["op"]: round(o["s"], 3) for o in ps["ops"]} for ps in passes],
            "samples": {"pass_s": len(passes), "op_s.p50": len(ok_ops)},
        }
        if trace:
            spark.stop()  # flushes the event log
            spark = None
            metrics = {
                "session.import_s": s_imp["end"] - s_imp["start"],
                "session.start_s": s_start["end"] - s_start["start"],
                "session.warmup_s": s_warm["end"] - s_warm["start"],
                "operators.caching.held_after_evict": max(held),
                "trace.pass_s": e2e["pass_s"],
            }
            metrics.update(_cache_metrics(cache_events, passes))
            metrics.update(_layer_metrics(ctx, wl, passes))
            with open(ROOT / "BENCHMARK.json") as fh:
                per_layer = json.load(fh)["per_layer"]
            out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in per_layer}
            _write_trace(ctx, context, e2e, metrics)
        else:
            out = {n: {"value": float(e2e[n]), "unit": "s"} for n in END_TO_END}
        print("# context " + json.dumps(context))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
        return 0
    finally:
        _shutdown(spark)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            rundir.parent.rmdir()
        except OSError:
            pass


def _layer_metrics(ctx, wl, passes) -> dict[str, float]:
    """Per-layer metrics from the event log, the workload's own probes
    and the spans' self times."""
    groups = read_event_log(ctx.rundir / "eventlog")
    metrics = _io_metrics(passes, groups, lambda g: _group_pass(wl, g))
    metrics.update(_plan_metrics(passes, groups, ctx.cores))
    if hasattr(wl, "layer_metrics"):
        metrics.update(wl.layer_metrics(passes))
    by_pass = ctx.tracer.layer_self_by_pass()
    walls = [ps["s"] for ps in passes]
    harness = [acc.get("bench", 0.0) for acc in by_pass]
    metrics["trace.harness_s"] = median(harness)
    metrics["trace.accounted_share"] = median(1 - h / w for h, w in zip(harness, walls) if w)
    ctx.layer_self = by_pass
    return metrics


def _write_trace(ctx, context, e2e, metrics) -> None:
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"trace-{ctx.workload}-seed{ctx.seed}-{os.getpid()}.json"
    with open(path, "w") as fh:
        json.dump(
            {
                "context": context,
                "end_to_end_traced": e2e,
                "per_layer": metrics,
                "layer_self_s_by_pass": ctx.layer_self,
                "spans": ctx.tracer.spans,
            },
            fh,
        )
    print(f"# trace written to {path}", file=sys.stderr)


def _shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = getattr(SparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    if sc is not None:
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                for q in active.streams.active:
                    q.stop()
            sc.stop()
        except Exception as exc:
            print(f"# stop failed: {exc}", file=sys.stderr)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
