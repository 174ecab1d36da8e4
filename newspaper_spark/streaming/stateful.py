"""Custom stateful streaming operator: streaming sessionization via
applyInPandasWithState.

The batch form (operators/sessionize.py) is pure windows; the streaming
form keeps per-user open-session state (start, last-seen, count) and
emits a session row when the gap threshold expires it. State is keyed
by user_id — the shuffle is the same uniform hash partitioning as the
batch job; state size is O(active users), not O(events).
"""
from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, closed boolean"
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.DoubleType()),
        T.StructField("last_s", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_update(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_s: float,
    read_ts: Callable[[pd.DataFrame], list],
    set_timeout: Callable[[GroupState, float], None],
) -> Iterator[pd.DataFrame]:
    """The session fold both update functions share. A timed-out state
    is emitted closed and dropped. Otherwise the batch's event times
    (``read_ts`` per frame, then sorted) fold into the open
    (start, last, n): every gap longer than ``gap_s`` emits the session
    it closes, the open session is stored, ``set_timeout(state, last)``
    arms its expiry, and it is emitted open (closed=False) for
    observers."""
    user_id = key[0]
    out = []
    if state.hasTimedOut:
        start_s, last_s, n = state.get
        out.append((user_id, start_s, last_s, n, True))
        state.remove()
    else:
        ts_list = sorted(t for pdf in pdfs for t in read_ts(pdf))
        if state.exists:
            start_s, last_s, n = state.get
        else:
            start_s = last_s = None
            n = 0
        for t in ts_list:
            if last_s is not None and t - last_s > gap_s:
                out.append((user_id, start_s, last_s, n, True))
                start_s, last_s, n = t, t, 1
            else:
                if start_s is None:
                    start_s = last_s = t
                else:
                    # ts_list is sorted only WITHIN a batch: an
                    # out-of-order event from a later batch can carry
                    # t < last_s — it joins the session but must not
                    # move its end (or start) backward, or the timeout
                    # would fire before true last_event + gap
                    start_s = min(start_s, t)
                    last_s = max(last_s, t)
                n += 1
        if last_s is not None:
            state.update((start_s, last_s, n))
            set_timeout(state, last_s)
            out.append((user_id, start_s, last_s, n, False))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "session_start": pd.to_datetime([o[1] for o in out], unit="s"),
                "session_end": pd.to_datetime([o[2] for o in out], unit="s"),
                "n_events": [o[3] for o in out],
                "closed": [o[4] for o in out],
            }
        )


def make_session_fn(gap_minutes: int = 30):
    """Processing-time session fn: event times arrive as epoch seconds
    (``ts_s``) and the session closes ``gap`` of wall clock after its
    last batch."""
    gap_s = gap_minutes * 60

    def read_ts(pdf: pd.DataFrame) -> list:
        return pdf["ts_s"].tolist()

    def set_timeout(state: GroupState, last_s: float) -> None:
        state.setTimeoutDuration(gap_s * 1000)

    def update(key, pdfs, state):
        return _session_update(key, pdfs, state, gap_s, read_ts, set_timeout)

    return update


def make_event_time_session_fn(gap_minutes: int = 30):
    """Event-time twin of make_session_fn: the session closes when the
    WATERMARK (not the wall clock) passes last_event + gap, so results
    are reproducible under replay and late-but-within-watermark events
    still extend their session. Events older than the watermark never
    reach this function — Spark's late-data filter drops them — so a
    straggler can't reopen a closed session."""
    gap_s = gap_minutes * 60

    def read_ts(pdf: pd.DataFrame) -> list:
        # ts arrives as datetime64 (the watermark column must stay a
        # timestamp) — convert to epoch seconds
        return pdf["ts"].astype("int64").floordiv(1_000_000_000).tolist()

    def set_timeout(state: GroupState, last_s: float) -> None:
        # close when the watermark passes last event + gap; the timeout
        # timestamp must exceed the current watermark
        target_ms = int((last_s + gap_s) * 1000)
        state.setTimeoutTimestamp(
            max(target_ms, state.getCurrentWatermarkMs() + 1)
        )

    def update(key, pdfs, state):
        return _session_update(key, pdfs, state, gap_s, read_ts, set_timeout)

    return update


def streaming_sessionize_event_time(
    events: DataFrame, gap_minutes: int = 30, watermark_minutes: int = 10
) -> DataFrame:
    """events(user_id, ts) stream → session rows, EVENT-time semantics:
    ``withWatermark`` bounds state and drops events later than the
    watermark delay (they cannot reopen closed sessions), and sessions
    close via EventTimeTimeout when the watermark passes
    last_event + gap — deterministic under replay, unlike the
    processing-time variant.

    Requires ``watermark_minutes <= gap_minutes``: the session fn's
    backward bound-stretch (start = min(start, t)) is only correct when
    every late in-watermark event is within one gap of the open
    session's start — a larger watermark would let a late event earlier
    than start − gap silently merge two true sessions into one."""
    from pyspark.sql import functions as F

    if watermark_minutes > gap_minutes:
        raise ValueError(
            f"watermark_minutes ({watermark_minutes}) must be <= "
            f"gap_minutes ({gap_minutes}): a late in-watermark event more "
            "than one gap before the session start would merge two true "
            "sessions (state holds only one open session per user)"
        )
    prepared = events.select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withWatermark("ts", f"{watermark_minutes} minutes")
    return prepared.groupBy("user_id").applyInPandasWithState(
        make_event_time_session_fn(gap_minutes),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """events(user_id, ts) stream → session rows (open + closed).

    Requires update output mode; ts is converted to epoch seconds
    before grouping so state holds plain doubles."""
    from pyspark.sql import functions as F

    prepared = events.select(
        "user_id", F.col("ts").cast("timestamp").cast("double").alias("ts_s")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        make_session_fn(gap_minutes),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
