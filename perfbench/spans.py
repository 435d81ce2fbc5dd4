"""In-memory spans and the Spark event-log reader for traced runs.

Spans are recorded around the benchmark's own calls into the program
(run -> workload -> pass -> op -> builder/action/...). Spark jobs join
their op through the job group the benchmark sets before each call, so
the event log can be folded back onto the same ops.
"""

from __future__ import annotations

import contextlib
import json
import pathlib
import re
import statistics
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, parent: int, op: str | None = None) -> dict:
        """A span timed elsewhere (e.g. a streaming micro-batch)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": op,
            "parent": parent,
            "start": start,
            "end": end,
        }
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[int, float]:
        """Span id -> wall time minus the part of it covered by children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_self_by_pass(self) -> list[dict[str, float]]:
        """For every pass span: layer -> summed self time of the pass
        and everything under it."""
        selfs = self.self_times()
        parent = {s["id"]: s["parent"] for s in self.spans}
        passes = [s for s in self.spans if s["name"] == "pass"]
        out = []
        for p in passes:
            acc: dict[str, float] = {}
            for s in self.spans:
                a = s["id"]
                while a is not None and a != p["id"]:
                    a = parent[a]
                if a == p["id"]:
                    acc[s["layer"]] = acc.get(s["layer"], 0.0) + selfs[s["id"]]
            out.append(acc)
        return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --- Spark event log ----------------------------------------------------

_FILES_READ = "number of files read"


def _plan_metric_ids(plan: dict, wanted: str, acc: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == wanted:
            acc.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, wanted, acc)


def _event_files(log_dir: pathlib.Path) -> list[pathlib.Path]:
    def key(p: pathlib.Path):
        m = re.match(r"events_(\d+)_", p.name)
        return (str(p.parent), int(m.group(1)) if m else 0, p.name)

    return sorted((p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")), key=key)


def read_event_log(log_dir: pathlib.Path) -> dict[str, dict]:
    """Fold the event log into per-job-group totals.

    Returns group -> {jobs, stages, tasks, cpu_s, gc_s,
    shuffle_bytes, spill_bytes, bytes_read, records_read, files_read,
    serial_stage_s} plus each stage's task durations for ``task_skew``.
    Streaming jobs carry the query's run id as their group."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    files_ids: set[int] = set()
    exec_files: dict[int, int] = {}
    stage_info: dict[int, dict] = {}
    task_durs: dict[int, list[float]] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0,
                "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "bytes_read": 0,
                "records_read": 0, "files_read": 0, "serial_stage_s": 0.0,
                "stage_durs": [],
            },
        )

    for path in _event_files(log_dir):
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id")
                    if grp is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                    if props.get("spark.sql.execution.id") is not None:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), grp)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metric_ids(ev.get("sparkPlanInfo") or {}, _FILES_READ, files_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    eid = ev.get("executionId")
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in files_ids:
                            exec_files[eid] = exec_files.get(eid, 0) + int(value)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    jid = stage_job.get(sid)
                    if jid not in job_group:
                        continue
                    rec = g(job_group[jid])
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    rec["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0)
                    rec["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics") or {}
                    rec["bytes_read"] += im.get("Bytes Read", 0)
                    rec["records_read"] += im.get("Records Read", 0)
                    if info.get("Finish Time") and info.get("Launch Time"):
                        task_durs.setdefault(sid, []).append((info["Finish Time"] - info["Launch Time"]) / 1e3)
                elif kind == "SparkListenerStageCompleted":
                    si = ev.get("Stage Info") or {}
                    stage_info[si.get("Stage ID")] = si

    for eid, n in exec_files.items():
        if eid in exec_group:
            g(exec_group[eid])["files_read"] += n
    for sid, si in stage_info.items():
        jid = stage_job.get(sid)
        if jid not in job_group:
            continue
        rec = g(job_group[jid])
        rec["stages"] += 1
        wall = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
        if si.get("Number of Tasks") == 1:
            rec["serial_stage_s"] += max(wall, 0.0)
        rec["stage_durs"].append(task_durs.get(sid, []))
    return groups


def task_skew(rec: dict, cores: int) -> float:
    """Max over the group's stages with at least ``cores`` tasks of the
    slowest task over the median task."""
    worst = 0.0
    for durs in rec.get("stage_durs", []):
        if len(durs) >= cores:
            med = statistics.median(durs)
            if med > 0:
                worst = max(worst, max(durs) / med)
    return worst


def install_cache_probe(tracer: Tracer) -> list[dict]:
    """Wrap the caching layer's two entry points, in every loaded
    ``etl_spark`` module that bound them, so each call records a span
    and whether it added an entry (a miss, per ``live_caches()``) or
    not (a hit). Returns the list the calls are appended to."""
    import sys

    import etl_spark.operators.caching as caching

    events: list[dict] = []
    depth = [0]  # a cache built inside another's build is not timed twice

    def wrap(fn):
        def probe(name, spark, sf_dir, build):
            before = caching.live_caches().get(name, 0)
            outer = depth[0] == 0
            depth[0] += 1
            try:
                with tracer.span("cache", "operators.caching", op=name) as sp:
                    out = fn(name, spark, sf_dir, build)
            finally:
                depth[0] -= 1
            miss = caching.live_caches().get(name, 0) > before
            events.append({"name": name, "miss": miss, "s": sp["end"] - sp["start"] if outer else 0.0})
            return out

        return probe

    for attr in ("session_cached", "session_checkpointed"):
        orig = getattr(caching, attr, None)
        if orig is None:
            continue
        wrapped = wrap(orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("etl_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
    return events
