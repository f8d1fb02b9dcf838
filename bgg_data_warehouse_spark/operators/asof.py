"""As-of (point-in-time) join — the operator Spark's join family lacks.

For each left row, attach the latest right row whose timestamp is <= the
left timestamp, per join key. The classic uses: price-as-of-trade,
feature-as-of-label (training-data pipelines must not leak the future
into features), and slowly-changing-dimension lookups.

Spark-first plan — the UNION-window formulation, not a range join:

    tag right rows side=0 and left rows side=1, union them, and run ONE
    window per key ordered by (ts, side): ``last(value, ignorenulls)``
    over the unbounded-preceding frame carries the most recent right
    value forward onto every left row. Keep side=1 rows.

This is a single hash-partition shuffle on the join key — same cost as
an equi-join — with no range-condition blowup: a naive
``l JOIN r ON key AND r.ts <= l.ts`` materializes O(matches²) pairs per
key before the per-row max, which at 100 TB is the difference between a
join and an outage. Ordering by (ts, side) makes the backward join
inclusive (a right row AT the left timestamp sorts before the left row
and is picked up).

The right side must be unique per (key, ts) — as-of semantics are
ill-defined otherwise; callers with duplicates dedupe first
(operators/latest.py).

DuckDB expresses the same thing natively (``ASOF JOIN``), which is what
the oracle gate runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# time-bucket width of :func:`asof_join_segmented`'s heavy pass (1 day)
SEGMENT_MICROS = 86_400_000_000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: every left row, plus ``value_cols`` from the
    matching right row (null when no match)."""
    lcols = [c for c in left.columns]
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(r.schema[f"_v_{c}"].dataType).alias(f"_v_{c}") for c in value_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    r = r.select(
        "_k", "_ts", "_side",
        *[f"_v_{c}" for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    merged = r.unionByName(l)

    # right rows sort before left at equal ts → inclusive match
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "_side",
        *[F.col(f"_l_{c}") for c in lcols],
        *[F.last(f"_v_{c}", ignorenulls=True).over(w).alias(f"_o_{c}") for c in value_cols],
    ).where(F.col("_side") == 1)
    return carried.select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"_o_{c}").alias(c) for c in value_cols],
    )


def asof_join_segmented(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Skew-resilient backward as-of join: identical rows to
    ``asof_join`` (backward, no tolerance), different partitioning.

    ``asof_join``'s single per-key window serializes a hot key (one user
    with 10⁸ events) through one task — windows cannot be skew-split the
    way AQE splits joins. This variant is the segmented-scan
    decomposition:

    1. heavy pass — partition by (key, time-bucket): within each bucket,
       the same union-window carry. Parallelism scales with the key's
       time span, not 1.
    2. boundary summary — ONE row per (key, bucket) holding the bucket's
       last right value (a map-side-combinable max_by aggregate).
    3. per-key carry over the summary — the same union-window trick at
       bucket granularity, over rows ∝ buckets, not events.
    4. left rows with no in-bucket predecessor take the carry-in.

    Two shuffles + one tiny one instead of one — slightly more expensive
    on uniform data, bounded-per-task on any data. Same DuckDB ASOF
    oracle gates both variants.
    """
    lcols = list(left.columns)
    bkt = lambda ts: F.floor(F.unix_micros(F.col(ts)) / F.lit(SEGMENT_MICROS))  # noqa: E731

    r = right.select(
        F.col(on).alias("_k"),
        bkt(right_ts).alias("_b"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    # left rows carry their full payload through the union (null on the
    # right side) — never a join-back on (key, ts), which would multiply
    # duplicate-timestamp rows
    l = left.select(
        F.col(on).alias("_k"),
        bkt(left_ts).alias("_b"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(r.schema[f"_v_{c}"].dataType).alias(f"_v_{c}") for c in value_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    r_pad = r.select(
        "_k", "_b", "_ts", "_side",
        *[f"_v_{c}" for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )

    # (1) within-bucket carry, partitioned by (key, bucket)
    merged = r_pad.unionByName(l)
    wb = (
        Window.partitionBy("_k", "_b")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_bucket = merged.select(
        "_k",
        "_b",
        "_side",
        *[F.col(f"_l_{c}") for c in lcols],
        *[F.last(f"_v_{c}", ignorenulls=True).over(wb).alias(f"_ib_{c}") for c in value_cols],
    ).where(F.col("_side") == 1)

    # (2) one summary row per (key, bucket) with the bucket's last right value
    summary = r.groupBy("_k", "_b").agg(
        *[F.max_by(f"_v_{c}", "_ts").alias(f"_s_{c}") for c in value_cols]
    )

    # (3) carry the summary forward across buckets per key: union the
    # left-side bucket markers with summaries and run the bucket-
    # granularity window — rows ∝ distinct (key, bucket). Markers sort
    # BEFORE the same bucket's summary (marker _sb=0 < summary _sb=1) and
    # the frame ends at -1, so a bucket's carry-in sees strictly EARLIER
    # buckets only — the same-bucket summary holds a possibly-later right
    # row and belongs to the in-bucket pass, not the carry.
    lb = l.select("_k", "_b").distinct().withColumn("_sb", F.lit(0))
    sb = summary.withColumn("_sb", F.lit(1))
    wk = (
        Window.partitionBy("_k")
        .orderBy(F.col("_b").asc(), F.col("_sb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        sb.unionByName(lb, allowMissingColumns=True)
        .select(
            "_k",
            "_b",
            "_sb",
            *[F.last(f"_s_{c}", ignorenulls=True).over(wk).alias(f"_ci_{c}") for c in value_cols],
        )
        .where(F.col("_sb") == 0)
        .drop("_sb")
    )

    # (4) in-bucket value wins; else the carry-in from earlier buckets
    out = in_bucket.join(carry, ["_k", "_b"], "left")
    return out.select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[
            F.coalesce(F.col(f"_ib_{c}"), F.col(f"_ci_{c}")).alias(c)
            for c in value_cols
        ],
    )
