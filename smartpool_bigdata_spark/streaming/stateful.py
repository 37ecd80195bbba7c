"""The engine's custom stateful streaming operator: gap-based
sessionization with ``applyInPandasWithState`` (GroupState) — the
extension point for semantics Spark's built-in streaming aggregates
can't express (one OPEN session per key, closed either by an observed
gap or by event-time timeout when the watermark passes end+gap). It runs
on the default HDFS-backed state store, so it needs no RocksDB provider
and no protobuf client; ``transformWithState`` would need both.

The batch twin is ``ops.relational.sessionize`` (lag + running sum); on a
replayed/closed input the streaming emission converges to the batch
sessions, which the test suite uses as the oracle.

Scale: state is ONE small row per active key (start, end, count) — bounded
by live-key cardinality, not event rate; the event-time timeout GCs idle
keys. Rows arrive Arrow-batched per key group (Pandas-vectorized merge),
shuffled once on the key.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

from pyspark.sql import DataFrame

SESSION_SCHEMA = (
    "key BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, n_events BIGINT"
)
STATE_SCHEMA = "start TIMESTAMP, end TIMESTAMP, n BIGINT"


def sessionize_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: float,
    watermark: str = "1 hour",
) -> DataFrame:
    """Emit (key, session_start, session_end, n_events) rows for CLOSED
    sessions. A session closes when a later event for the key arrives more
    than ``gap_seconds`` after its end (observed gap), or when the
    watermark passes end+gap (event-time timeout — no later event can
    reopen it, so emission is safe/exactly-once under append mode).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = dt.timedelta(seconds=gap_seconds)

    def fn(key: tuple, pdfs: Iterator, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "session_start": [start],
                    "session_end": [end],
                    "n_events": [n],
                }
            )
            return

        ts_values = []
        for pdf in pdfs:
            ts_values.extend(pdf[ts_col].tolist())
        ts_values.sort()

        open_session = state.get if state.exists else None  # (start, end, n)
        closed: list[tuple] = []
        for ts in ts_values:
            if open_session is None:
                open_session = (ts, ts, 1)
            else:
                start, end, n = open_session
                if ts > end + gap:
                    closed.append(open_session)
                    open_session = (ts, ts, 1)
                else:
                    open_session = (start, max(end, ts), n + 1)

        state.update(open_session)
        # Close via timeout once the watermark passes end+gap. The timeout
        # must be strictly beyond the current watermark or Spark rejects it.
        timeout_ms = int(open_session[1].timestamp() * 1000) + int(gap_seconds * 1000)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))

        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    watermarked = stream_df.withWatermark(ts_col, watermark)
    out = watermarked.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out
