"""Watermarked session windows — the streaming twin of the batch
``sessionize`` query.

``readStream → withWatermark → session_window-groupBy → writeStream``
is the Structured Streaming shape for event-time sessions with bounded
state: the watermark lets the engine (a) finalize and emit a session
once event time passes its end + delay (append mode), and (b) EVICT
that session's state, so a stream holds only the open sessions inside
the watermark horizon instead of growing forever. Both behaviours are
pinned by tests/test_streaming_windowed.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_rollup(
    stream: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time SESSION windows with a late-data watermark — the
    streaming twin of the batch ``sessionize`` query (lag-gap + running
    sum). ``session_window`` keeps per-key MERGEABLE interval state: an
    open session occupies [first_ts, last_ts + gap) and closes — is
    emitted in append mode and its state EVICTED — once the watermark
    passes its end. State per key is the open sessions inside the
    watermark horizon, never the stream's lifetime (the unbounded-state
    trap the lag-window formulation would hit on an infinite stream).

    Works on a streaming OR batch DataFrame (identical plan; the
    equivalence test runs all three formulations against each other).
    """
    return (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), key_col
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select(
            key_col,
            "n_events",
            "session_start",
            "session_end",
        )
    )
