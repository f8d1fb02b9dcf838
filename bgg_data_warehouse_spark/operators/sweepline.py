"""Interval sweep-line analytics: concurrency over [start, end) spans.

The classic event-boundary sweep: every interval contributes a +1 at
its start and a -1 at its end; the running sum of boundaries in time
order IS the number of concurrently-open intervals at each instant.
Peak concurrency, occupancy profiles and capacity planning all read
off that one scan.

Spark-first shape: the running sum uses the distributed two-pass
prefix scan (operators/prefix.py) bucketed by a calendar unit, so no
single-partition window ever sees the full boundary stream — the
decomposition that survives 100 TB of events where a bare
``Window.orderBy(ts)`` cannot. Half-open [s, e) semantics: an interval
ending at t closes BEFORE one starting at t opens (delta -1 sorts
ahead of +1 at equal timestamps), so back-to-back intervals never
double-count.

No reference counterpart (the reference's BigQuery DAG tracks snapshot
staleness, not interval overlap); this extends the engine's temporal
family (asof.py, range_join.py) with the missing interval-algebra
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .prefix import running_sum

__all__ = ["interval_boundaries", "interval_concurrency", "merge_intervals"]


def merge_intervals(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gaps-and-islands interval merge: label every row with the id of
    the maximal chain of overlapping-or-touching [start, end] intervals
    it belongs to, per key.

    The classic formulation: in (start, tiebreak) order, a row opens a
    NEW island iff its start lies strictly beyond the running maximum
    of all PRECEDING ends (running max, not lag(end) — an early long
    interval can swallow several later short ones, which lag would
    mis-split); the island id is the running count of those opens.
    Touching intervals (start == previous end) MERGE — the same
    inclusive-boundary convention the streaming session_window gap
    comparison was measured to have (see workload.session_rollup_batch).

    Scale shape: one hash partition per key and one per-key sort — the
    same cost profile as sessionize; per-key history is bounded (a
    user's events), so no single-partition global window exists. Start
    and end may be any mutually-comparable orderable type; for
    timestamps pass microsecond longs (``F.unix_micros``) so the
    comparison is exact.

    Returns the input columns plus ``island_id`` (1-based per key).
    """
    order_cols = order_cols or []
    w = Window.partitionBy(*key_cols).orderBy(start_col, *order_cols)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
    ).otherwise(0)
    return df.withColumn(
        "island_id",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def interval_boundaries(
    df: DataFrame, start_col: str, end_col: str, id_col: str
) -> DataFrame:
    """Explode [start, end) intervals into (t, delta, id) boundary
    events: +1 at start, -1 at end — generated map-side (a 2-element
    array explode), no shuffle."""
    return df.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("t"),
                    F.lit(1).cast("long").alias("delta"),
                    F.col(id_col).alias("id"),
                ),
                F.struct(
                    F.col(end_col).alias("t"),
                    F.lit(-1).cast("long").alias("delta"),
                    F.col(id_col).alias("id"),
                ),
            )
        ).alias("b")
    ).select("b.t", "b.delta", "b.id")


def interval_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    id_col: str,
) -> DataFrame:
    """Per-boundary concurrency: (t, delta, id, concurrency) where
    ``concurrency`` counts intervals open at instant t (inclusive of a
    +1 boundary's own interval, after any same-instant closes).

    The prefix scan buckets ``t`` (a timestamp) by calendar hour. The
    boundary order is (t, delta, id) — delta ascending puts -1 before +1 at equal t,
    which implements half-open intervals; id makes the scan
    deterministic row-for-row (peaks are tie-order-invariant, but the
    gate hashes every row).
    """
    b = interval_boundaries(df, start_col, end_col, id_col)
    bucket = F.date_trunc("hour", F.col("t"))
    return running_sum(
        b, "delta", bucket, ["t", "delta", "id"], out_col="concurrency"
    )
