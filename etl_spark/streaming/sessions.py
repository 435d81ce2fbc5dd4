"""Streaming sessionization: per-user gap-based sessions maintained
across micro-batches via applyInPandasWithState.

The batch form (``events_sessionize``, plans/events.py) is a
gaps-and-islands window over the complete history; the streaming form
keeps one open session per user in the state store and emits a session
snapshot whenever it advances.

This module is the engine's one Python state machine outside
``latest_wins.py``; every other streaming operator is a built-in
aggregate. Built-in ``session_window`` aggregation does not fit either
emission contract here: Spark rejects update mode for a streaming
session window, so it cannot emit the open-session snapshots
``sessionize_stream`` promises, and in append mode it emits a session
only once the watermark passes its end, with nothing to say whether a
gap or the idle timeout closed it (``closed_by``).

State per user is O(1): (session_start_us, last_ts_us, n_events).
Emission is update-mode: every batch that touches a user emits that
user's CURRENT session row (plus any sessions the batch closed), so
the latest snapshot per (user, session_start) is the session's final
form.

Ordering contract: events must arrive non-decreasing in event time per
user ACROSS batches (in-batch disorder is fine — each batch sorts).
The demo source replays history in timestamp order, which models a
watermark-ordered upstream; the production hardening (buffering
out-of-order rows in state until the watermark passes, with an
event-time timeout to flush idle users) hangs off the same state
machine and is orthogonal to the session logic tested here.

API choice note: Spark 4 also ships the successor API
``transformWithStateInPandas`` (StatefulProcessor + RocksDB store,
composite/TTL state, timers). Its Python state-server protocol
imports ``google.protobuf``, which the pinned runtime does not ship
(the worker crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE
on import), so the
session operators stand on ``applyInPandasWithState`` — same state
semantics for these single-value-state shapes, no extra dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

SESSION_GAP_US = 10 * 60 * 1_000_000  # mirror plans/events.py

OUTPUT_SCHEMA = (
    "user_id bigint, session_start string, session_end string,"
    " n_events bigint"
)
STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Per-user 10-minute-gap sessions over a stream of events."""

    def update(key, pdf_iter, state):
        # Self-contained closure (workers may lack repo on PYTHONPATH).
        import pandas as pd

        GAP = 600_000_000

        def fmt(us):
            return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                us = ts.value // 1000  # pandas ns -> us
                if start_us is None:
                    start_us, last_us, n = us, us, 1
                elif us - last_us > GAP:
                    closed.append((start_us, last_us, n))
                    start_us, last_us, n = us, us, 1
                else:
                    last_us, n = us, n + 1
        if start_us is None:
            return
        state.update((int(start_us), int(last_us), int(n)))
        snap = closed + [(start_us, last_us, n)]
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(snap),
                "session_start": [fmt(s) for s, _, _ in snap],
                "session_end": [fmt(e) for _, e, _ in snap],
                "n_events": [c for _, _, c in snap],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TIMEOUT_OUTPUT_SCHEMA = (
    "user_id bigint, session_start string, session_end string,"
    " n_events bigint, closed_by string"
)


def sessionize_stream_with_timeout(events: DataFrame) -> DataFrame:
    """Sessions emitted ONLY when closed — by a gap-exceeding next
    event, or by an EVENT-TIME TIMEOUT once the watermark passes the
    open session's gap horizon (idle user). This is the production
    form the plain ``sessionize_stream`` docstring promises: no
    open-session snapshots, state for idle keys is reaped by the
    timeout instead of living forever.

    Requires a watermark on the input (timeout firing is driven by
    watermark advancement). Emitted rows carry ``closed_by``:
    'gap' (explicit next event) or 'timeout' (idle horizon).
    """

    def update(key, pdf_iter, state):
        # Self-contained closure (workers may lack repo on PYTHONPATH).
        import pandas as pd

        GAP = 600_000_000

        def fmt(us):
            return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

        def emit(rows):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": [fmt(s) for s, _, _, _ in rows],
                    "session_end": [fmt(e) for _, e, _, _ in rows],
                    "n_events": [n for _, _, n, _ in rows],
                    "closed_by": [how for _, _, _, how in rows],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit([(start_us, last_us, n, "timeout")])
            return

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts in pdf["ts"]:
                us = ts.value // 1000
                if start_us is None:
                    start_us, last_us, n = us, us, 1
                elif us - last_us > GAP:
                    closed.append((start_us, last_us, n, "gap"))
                    start_us, last_us, n = us, us, 1
                else:
                    last_us, n = us, n + 1
        if start_us is not None:
            state.update((int(start_us), int(last_us), int(n)))
            # Fire once the watermark passes the open session's gap
            # horizon: end + GAP (in ms for the state API).
            state.setTimeoutTimestamp((last_us + GAP) // 1000)
        if closed:
            yield emit(closed)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TIMEOUT_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
