"""Streaming windowed aggregation and custom stateful operators.

SURVEY §2.8: the reference's only windows are tumbling ``time_bucket``
buckets, with late data handled by the invalidation protocol. Spark
Structured Streaming adds a complementary low-latency tier: watermarked
tumbling/sliding window aggregates (state dropped after the lateness
bound) and arbitrary stateful operators via ``applyInPandasWithState``.
Use the cagg protocol for unbounded-lateness correctness and these for
live dashboards — the combination covers both of the reference's use
patterns at streaming rates.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def windowed_agg(
    stream_df: DataFrame,
    time_col: str,
    aggs: dict[str, str],
    window: str = "1 hour",
    slide: Optional[str] = None,
    group_by: tuple = (),
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregate.

    ``aggs``: output name -> SQL aggregate expression. State for a window
    is freed once the watermark passes its end; rows later than
    ``watermark`` are dropped (this is the latency/completeness trade the
    cagg protocol does NOT make — see module docstring).
    """
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    exprs = [F.expr(e).alias(n) for n, e in aggs.items()]
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(win.alias("w"), *group_by)
        .agg(*exprs)
        .select(F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"),
                *group_by, *[F.col(n) for n in aggs])
    )


#: output schema of gap_sessions
_SESSION_SCHEMA = (
    "key string, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start long, last long, n long"


def _session_fn(key, pdf_iter, state: GroupState):
    """Session builder: walk the batch's timestamps in order, splitting
    wherever the inactivity gap is exceeded (also against carried state);
    every closed session is emitted, the trailing open one stays in
    state. An event-time timeout flushes a session that never sees
    another event once the watermark passes its last event by the gap."""
    gap_us = 30 * 60 * 1_000_000  # 30 min
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(last, unit="us")],
                "n_events": [n],
            }
        )
        return
    ts_all: list[int] = []
    for pdf in pdf_iter:
        ts_all.extend((pdf["ts"].astype("int64") // 1000).tolist())
    # interval-merge, with the carried session inserted as an interval in
    # time order: a cross-batch LATE event (earlier than the carried
    # session by more than the gap) forms its own session instead of
    # being silently folded into a session whose window doesn't contain
    # it; a late event within the gap of the carried START correctly
    # extends the session backwards
    items: list[tuple[int, int, int]] = [(t, t, 1) for t in sorted(ts_all)]
    if state.exists:
        items.append(tuple(state.get))  # (start, last, n)
        items.sort(key=lambda x: x[0])
    merged: list[tuple[int, int, int]] = []
    for s, l, n in items:
        if merged and s - merged[-1][1] <= gap_us:
            ps, pl, pn = merged[-1]
            merged[-1] = (ps, max(pl, l), pn + n)
        else:
            merged.append((s, l, n))
    closed, cur = (merged[:-1], merged[-1]) if merged else ([], None)
    if cur is not None:
        state.update(cur)
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
    if closed:
        yield pd.DataFrame(
            {
                "key": [key[0] for _ in closed],
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [n for _, _, n in closed],
            }
        )


def gap_sessions(stream_df: DataFrame, key_col: str, time_col: str = "ts") -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): session
    windows with a 30-minute inactivity gap — an operator the reference
    cannot express at all (no session windows, SURVEY §2.8) and Spark's
    built-in ``session_window`` can, but this demonstrates the arbitrary-
    state escape hatch for operators beyond the built-ins.

    Sessions close on event time: the watermark trails the newest
    ``time_col`` by the gap (later rows are dropped), and an open session
    is emitted once the watermark passes its last event by the gap. An
    ``availableNow`` query therefore ends by itself, leaving the sessions
    its input has not closed in state."""
    return (
        stream_df.select(F.col(key_col).cast("string").alias("key"), F.col(time_col).alias("ts"))
        .withWatermark("ts", "30 minutes")  # the session gap
        .groupBy("key")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
