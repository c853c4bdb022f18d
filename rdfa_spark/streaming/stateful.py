"""Custom stateful streaming operator: event sessionization with
``applyInPandasWithState``.

The batch `event_sessions` query (window functions over the whole
history) can't run on an unbounded stream — sessionization there
needs per-key state that survives across micro-batches and closes
sessions on event-time timeout.  This is the
``applyInPandasWithState`` form of the same 30-minute-gap semantics:

* state per ``user_id``: (session start, last-seen second, #events);
* an incoming batch's events are folded into the open session or
  split into new ones on >gap;
* the watermark advances event time; when a user's open session has
  been idle past the gap, the state times out and the session is
  emitted as final.

Batch/stream parity: replaying a bounded stream must produce exactly
the sessions of the batch window-function query — pinned in
tests/test_streaming_sinks.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import (GroupState,
                                         GroupStateTimeout)

SESSION_DDL = ("user_id bigint, session_id bigint, n_events bigint, "
               "start_sec bigint, end_sec bigint, final boolean")
STATE_DDL = ("session_id bigint, start_sec bigint, end_sec bigint, "
             "n_events bigint")

GAP_SEC = 1800


def _sessionize(key, pdfs: Iterator[pd.DataFrame],
                state: GroupState):
    """Fold a user's micro-batch events into gap-delimited sessions.

    Emits CLOSED sessions as final rows; the open tail session lives
    in state until the event-time timeout fires (idle > gap past the
    watermark), at which point it is emitted final too.
    """
    (user_id,) = key
    if state.hasTimedOut:
        session_id, start_sec, end_sec, n_events = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": user_id, "session_id": session_id,
            "n_events": n_events, "start_sec": start_sec,
            "end_sec": end_sec, "final": True}])
        return

    if state.exists:
        session_id, start_sec, end_sec, n_events = state.get
    else:
        session_id, start_sec, end_sec, n_events = 0, None, None, 0

    out = []
    secs: list[int] = []
    for pdf in pdfs:
        secs.extend(int(s) for s in pdf["sec"].values)
    for sec in sorted(secs):
        if start_sec is None:
            session_id += 1
            start_sec, end_sec, n_events = sec, sec, 1
        elif sec - end_sec > GAP_SEC:
            out.append({"user_id": user_id, "session_id": session_id,
                        "n_events": n_events, "start_sec": start_sec,
                        "end_sec": end_sec, "final": True})
            session_id += 1
            start_sec, end_sec, n_events = sec, sec, 1
        else:
            end_sec = max(end_sec, sec)
            n_events += 1

    state.update((session_id, start_sec, end_sec, n_events))
    # close the open session when event time passes end + gap
    state.setTimeoutTimestamp((end_sec + GAP_SEC) * 1000)
    if out:
        yield pd.DataFrame(out)


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts) stream -> finalized sessions.

    The shuffle is one hash partitioning on user_id (the state key);
    state size is O(active users), bounded by the event-time timeout.
    The watermark delay is the session gap.
    """
    ev = (events
          .withColumn("ts", F.col("ts").cast("timestamp"))
          .withWatermark("ts", f"{GAP_SEC} seconds")
          .select("user_id",
                  F.col("ts").cast("long").alias("sec"), "ts"))
    return (ev.groupBy("user_id")
            .applyInPandasWithState(
                _sessionize, SESSION_DDL, STATE_DDL,
                "append", GroupStateTimeout.EventTimeTimeout))
