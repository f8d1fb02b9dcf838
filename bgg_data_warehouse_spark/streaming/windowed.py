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
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id",
            "n_events",
            "session_start",
            "session_end",
        )
    )
