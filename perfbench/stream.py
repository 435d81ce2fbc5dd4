"""The streaming half of ``snapshot_etl_stream``: ``read_rate_events``
-> ``latest_wins_stream`` -> ``noop`` sink, trigger ``0 seconds``.

One pass starts a fresh query (its own checkpoint) and waits until
``BATCHES`` micro-batches have committed; an op is one micro-batch's
``triggerExecution``. The query is stopped after the pass, untimed.
The last pass's state store, as of batch ``BATCHES - 1``, is read back
after the loop and checked against the winners recomputed from the
source's deterministic ``value`` sequence.
"""

from __future__ import annotations

import datetime
import shutil
import sys
import time

from spans import median

ROWS_PER_BATCH = 20_000
BATCHES = 5
START_TS_MS = 1_704_103_200_000
ADVANCE_MS = 60_000
# read_rate_events derives user_id = value % 50 and the event type
# from value % 5, so there are exactly 50 keys.
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


class StreamLatestWins:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.progress: list[list[dict]] = []
        self.run_ids: dict[str, int] = {}
        self.errors = 0
        self.last_ckpt = None

    def fixtures(self) -> None:
        pass

    def run_pass(self, p: int) -> list[dict]:
        from etl_spark.streaming.latest_wins import latest_wins_stream
        from etl_spark.streaming.rate_source import read_rate_events

        ctx = self.ctx
        ckpt = ctx.rundir / "stream" / f"p{p}"
        wall0 = time.time() - time.perf_counter()
        with ctx.tracer.span("build", "streaming"):
            df = latest_wins_stream(
                read_rate_events(
                    ctx.spark,
                    rows_per_batch=ROWS_PER_BATCH,
                    num_partitions=ctx.cores,
                    start_ts_ms=START_TS_MS,
                    advance_ms_per_batch=ADVANCE_MS,
                )
            )
        with ctx.tracer.span("start", "streaming"):
            query = (
                df.writeStream.format("noop")
                .outputMode("update")
                .trigger(processingTime="0 seconds")
                .option("checkpointLocation", str(ckpt))
                .start()
            )
        self.run_ids[str(query.runId)] = p
        self.query = query
        # The engine's own time outside micro-batches (query start-up,
        # gaps between triggers) is this span's self time.
        with ctx.tracer.span("wait", "streaming") as wait:
            while query.isActive:
                last = query.lastProgress
                if last is not None and last["batchId"] >= BATCHES - 1:
                    break
                time.sleep(0.01)
        # Only the first BATCHES micro-batches are ops; the query is
        # stopped, untimed, in after_pass.
        progress = [dict(x) for x in query.recentProgress if x["batchId"] < BATCHES]
        self.progress.append(progress)
        self.last_ckpt = ckpt
        ops = []
        for prog in progress:
            dur = prog["durationMs"]
            start = _epoch(prog["timestamp"]) - wall0
            end = start + dur["triggerExecution"] / 1e3
            ctx.tracer.add("micro-batch", "streaming", start, end, wait["id"], op=f"batch{prog['batchId']}")
            ops.append({
                "op": "micro-batch",
                "ok": True,
                "rows": prog["numInputRows"],
                "s": dur["triggerExecution"] / 1e3,
            })
        return ops

    def after_pass(self, p: int) -> None:
        """Stop the pass's query (a batch has committed by now) and
        count a query exception as a failure."""
        query = self.query
        query.stop()
        if query.exception() is not None or len(self.progress[-1]) < BATCHES:
            print(f"# stream pass {p} failed: {query.exception()}", file=sys.stderr)
            self.errors += 1
        # Earlier passes' checkpoints are not needed by the check.
        if p:
            shutil.rmtree(self.ctx.rundir / "stream" / f"p{p - 1}", ignore_errors=True)

    def verify(self, passes) -> int:
        """Compare the committed state of the last pass with the
        winners recomputed from the value sequence; returns the number
        of wrong ops (the whole last pass when the state is wrong)."""
        bad = self.errors
        try:
            # The state as of the last counted batch; a batch that
            # committed while the query was stopping is not an op.
            state = (
                self.ctx.spark.read.format("statestore")
                .option("batchId", BATCHES - 1)
                .load(str(self.last_ckpt))
            )
            got = {}
            for r in state.collect():
                key, val = r["key"].asDict(), r["value"]["groupState"].asDict()
                got[(key["user_id"], key["event_type"])] = (val["ts_us"], val["event_id"], val["value"])
            want = expected_state(self.progress[-1])
            if got != want:
                print(f"# verify stream: state mismatch ({len(got)} vs {len(want)} keys)", file=sys.stderr)
                bad += len(passes[-1]["ops"])
        except Exception as exc:
            print(f"# verify stream raised {type(exc).__name__}: {exc}", file=sys.stderr)
            bad += len(passes[-1]["ops"])
        return bad

    def group_pass(self, group: str) -> int | None:
        return self.run_ids.get(group)

    def layer_metrics(self, passes) -> dict[str, float]:
        batches = [b for prog in self.progress for b in prog]

        def dur(b, k):
            return b["durationMs"].get(k, 0) / 1e3

        def state(b, k):
            return sum(op.get(k, 0) for op in b.get("stateOperators", []))

        last = [prog[-1] for prog in self.progress if prog]
        return {
            "streaming.trigger_s": median(dur(b, "triggerExecution") for b in batches),
            "streaming.add_batch_s": median(dur(b, "addBatch") for b in batches),
            "streaming.overhead_s": median(dur(b, "triggerExecution") - dur(b, "addBatch") for b in batches),
            "streaming.state_rows": median(state(b, "numRowsTotal") for b in last),
            "streaming.state_bytes": median(state(b, "memoryUsedBytes") for b in last),
            "streaming.state_commit_s": median(state(b, "commitTimeMs") / 1e3 for b in batches),
        }


def _epoch(iso: str) -> float:
    return datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc
    ).timestamp()


def expected_state(progress: list[dict]) -> dict:
    """Winner per (user_id, event_type) after the committed batches:
    the newest batch timestamp wins, then the highest event id, so it
    is the largest value with that key."""
    total = sum(b["numInputRows"] for b in progress)
    out = {}
    for user in range(50):
        v = max(range(user, total, 50))
        batch = v // ROWS_PER_BATCH
        ts_us = (START_TS_MS + batch * ADVANCE_MS) * 1000
        out[(user, EVENT_TYPES[v % 5])] = (ts_us, v, (v % 97) / 10.0)
    return out
