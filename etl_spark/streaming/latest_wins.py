"""Streaming latest-snapshot-wins: the reference's single most
load-bearing transform (S14, reference main.py:149-157 — keep each
key's newest observation) as a TRUE streaming operator.

The batch form is a row_number window over all history
(``events_latest_per_user_type``); re-running it per batch re-reads
everything. This form keeps one winner per (user_id, event_type) in
the state store and updates it as events arrive — O(1) state per key,
O(batch) work per trigger, the incremental shape the reference's
re-run-batch design approximates from the outside.

Tiebreak contract matches the batch window: later ts wins; equal ts
→ higher event_id wins (the "9.json" vs "10.json" ordering fine print
generalized, SURVEY.md §2.4 item 1-2). Emission is update-mode: every
batch that touches a key emits that key's current winner; the last
snapshot per key is the final answer.

Known divergence from the batch twin: a winner whose value is NaN is
emitted (and stored) as null here, where the batch window keeps NaN.
The fix is ROADMAP item 1, a built-in ``max(struct(...))`` streaming
aggregate as ``streaming/cdc.py`` uses; it waits on a declared change
to ``perfbench/stream.py:verify``, which reads this state layout
(``ts_us, event_id, value``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id bigint, event_type string, event_id bigint,"
    " event_ts string, value double"
)
STATE_SCHEMA = "ts_us bigint, event_id bigint, value double"


def latest_wins_stream(events: DataFrame) -> DataFrame:
    """Per-(user, type) newest event maintained across micro-batches."""

    def update(key, pdf_iter, state):
        # Self-contained closure (workers may lack repo on PYTHONPATH).
        import pandas as pd

        if state.exists:
            best_us, best_id, best_val = state.get
        else:
            best_us, best_id, best_val = -1, -1, None
        touched = False
        for pdf in pdf_iter:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                touched = True
                us = ts.value // 1000
                if us > best_us or (us == best_us and eid > best_id):
                    best_us, best_id = int(us), int(eid)
                    best_val = None if val != val else float(val)
        if not touched:
            return
        state.update((best_us, best_id, best_val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "event_id": [best_id],
                "event_ts": [
                    pd.Timestamp(best_us * 1000).strftime("%Y-%m-%d %H:%M:%S")
                ],
                "value": [best_val],
            }
        )

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
