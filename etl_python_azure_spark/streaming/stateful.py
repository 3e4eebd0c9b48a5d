"""Custom stateful streaming operators (``applyInPandasWithState``).

The built-in windowed/session aggregations cover the reference's
needs; this is the escape hatch for operators Spark lacks — state
that must persist across micro-batches with arbitrary update logic.
Example shipped: per-key running totals that survive restarts via
the state store (the checkpointed analog of a driver-side
accumulator, which is what the reference's print-based counters
amount to).

State is per-key and partition-local: Spark shuffles each key to one
task, the pandas function sees (key, batch-iterator, state). Scale:
state volume ∝ distinct keys, not events — bound it with timeouts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key cumulative (count, sum) maintained across micro-batches.

    Output one row per key per batch in which the key appeared:
    (key, n_events_total, total_value). Exactly-once via the
    checkpointed state store.
    """

    out_schema = f"{key_col} long, n_events_total long, total_value double"
    state_schema = "n long, s double"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s = state.get
        else:
            n, s = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events_total": [n], "total_value": [s]}
        )

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _session_step(state, ts_us: int, val: float, gap_us: int):
    """One event through the session automaton.

    *state* is (start, last, n, value_sum) with n == 0 meaning "no
    open session". Returns (closed_sessions, new_state) where each
    closed session is a (start, last, n, value_sum) tuple. Shared by
    the streaming update function and the batch ``pandas_sessions``
    twin in tests/test_round3.py, which pins this transition logic
    to :func:`pandas_sessions_vectorized` — the sessionizer the
    ``stateful_session_equiv`` oracle checks.
    """
    start, last, n, s = state
    if n == 0:
        return [], (ts_us, ts_us, 1, val)
    if ts_us >= last and ts_us - last < gap_us:
        return [], (start, ts_us, n + 1, s + val)
    if ts_us < last:
        # cross-batch out-of-order arrival inside the watermark
        # horizon: merge when within gap of the session's span —
        # extending start backward, never regressing `last` (a
        # regressed `last` would corrupt later gap decisions); an
        # event > gap older than the span is its own already-closed
        # session
        if ts_us >= start - gap_us:
            return [], (min(start, ts_us), last, n + 1, s + val)
        return [(ts_us, ts_us, 1, val)], (start, last, n, s)
    # gap reached: close the open session, start a new one
    return [(start, last, n, s)], (ts_us, ts_us, 1, val)


def stateful_sessions(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Event-time session windows with an inactivity gap, built on the
    state store (the ``applyInPandasWithState`` counterpart of
    ``session_window`` for when per-session logic must be custom).

    Semantics: events for a key belong to one session while the gap
    between consecutive event times is < *gap_seconds*. Sessions that
    close INSIDE a batch (a later event arrives past the gap) are
    emitted immediately; the trailing open session parks in state and
    is emitted by an ``EventTimeTimeout`` once the watermark passes
    ``last_event + gap`` — so output is append-mode and final (no
    retractions), and state volume is one tuple per open session.

    Output: (key, session_start, session_end, n_events, total_value),
    session_end = last event time (not +gap).

    Caller must set a watermark on *ts_col* upstream; replays inside
    the watermark horizon are handled by the checkpointed store.
    Batching-invariant for in-order delivery (same closed sessions
    whatever the micro-batch boundaries — tested); events arriving
    behind the watermark are dropped as late, per the standard
    watermark contract.
    """

    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    # epoch micros: timestamps cross the Arrow boundary as tz-naive
    # pandas Timestamps; integers keep the state encoding exact
    state_schema = "start long, last long, n long, s double"
    gap_us = gap_seconds * 1_000_000

    def _row(key: tuple, start_us: int, last_us: int, n: int, s: float):
        return pd.DataFrame(
            {
                key_col: [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
                "total_value": [s],
            }
        )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, last, n, s = state.get
            state.remove()
            yield _row(key, start, last, n, s)
            return
        if state.exists:
            start, last, n, s = state.get
        else:
            start = last = n = 0
            s = 0.0
        events = pd.concat(list(pdfs), ignore_index=True).sort_values(ts_col)
        for ts, val in zip(events[ts_col], events[value_col]):
            ts_us = int(ts.value // 1_000)  # pandas ns → us
            closed, (start, last, n, s) = _session_step(
                (start, last, n, s), ts_us, float(val), gap_us
            )
            for c in closed:
                yield _row(key, *c)
        state.update((start, last, n, s))
        state.setTimeoutTimestamp((last + gap_us) // 1_000)  # ms
    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def pandas_sessions_vectorized(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Vectorized batch sessionization: same output as the per-event
    session automaton (``_session_step``), without per-event Python
    or per-key dispatch.

    One Spark shuffle lays events out per-partition sorted by
    (key, ts); each partition then sessionizes in a single numpy
    pass over its whole Arrow stream — boundaries are "key changed
    OR gap ≥ threshold" (flatnonzero), per-session sums are
    ``np.add.reduceat`` slices. Compared to the per-key
    ``applyInPandas`` automaton this removes the per-group function
    dispatch entirely; Python cost is O(partition) vectorized.
    Partition memory is bounded by the shuffle partition sizing
    (AQE/`spark.sql.shuffle.partitions`) — same contract as any
    sort-based operator. Equality with the automaton is tested.
    """
    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    gap_ns = gap_seconds * 1_000_000_000

    def fold(batches):
        import numpy as np

        # the concat is required: a session may span Arrow batch
        # boundaries, so the numpy pass needs the whole partition
        # in one frame. MEMORY CONTRACT: this materializes one full
        # shuffle partition per task in Python-heap pandas — size
        # `spark.sql.shuffle.partitions` (or let AQE coalesce) so a
        # partition fits executor Python memory, the same sizing rule
        # as any sort-based operator. A carry-over-state per-batch
        # fold (keep only the open tail session between batches)
        # would cap memory at one batch + one open session if a
        # deployment ever needs partitions larger than RAM.
        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            return
        keys = pdf[key_col].to_numpy("int64")
        ts = pdf[ts_col].to_numpy("datetime64[ns]").astype("int64")
        val = pdf[value_col].to_numpy("float64")
        starts = np.flatnonzero(
            np.r_[
                True,
                (keys[1:] != keys[:-1]) | ((ts[1:] - ts[:-1]) >= gap_ns),
            ]
        )
        ends = np.r_[starts[1:], len(ts)] - 1
        yield pd.DataFrame(
            {
                key_col: keys[starts],
                "session_start": ts[starts].astype("datetime64[ns]"),
                "session_end": ts[ends].astype("datetime64[ns]"),
                "n_events": ends - starts + 1,
                "total_value": np.add.reduceat(val, starts),
            }
        )

    laid_out = df.repartition(key_col).sortWithinPartitions(key_col, ts_col)
    return laid_out.mapInPandas(fold, schema=out_schema)
