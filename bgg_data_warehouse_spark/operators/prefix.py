"""Distributed prefix scans: running aggregates over a GLOBAL order.

Spark's Window without ``partitionBy`` collapses to a single task — the
one shape that cannot survive 100 TB. But every associative running
aggregate (sum, min, row count) decomposes into the classic two-pass
scan:

1. bucket rows by a data-derived, order-aligned key (an hour, a price
   band, a name prefix) and run the window INSIDE each bucket — tasks
   proportional to buckets, each window bounded by its bucket;
2. aggregate one row per bucket, prefix-combine those (a window over
   |buckets| rows — thousands, not billions), and add each bucket's
   EXCLUSIVE offset back with a broadcast-sized join.

The result is bit-identical to the global window at any partitioning
because the combine op is associative, so the same helpers back
hash-gated queries (peak_concurrency, pareto_frontier,
sorted_neighborhood_pairs) whose DuckDB oracles use the plain global
window form — the rewrite itself is what the gate verifies.

No reference counterpart (the reference's BigQuery engine parallelizes
ORDER BY windows internally; Spark makes the decomposition the user's
job): this is engine machinery for the LLM-pipeline extensions, same
family as operators/iterative.py.

The bucket column must be ALIGNED with the order: bucket_a < bucket_b
must imply every order key in a sorts before every key in b (hour
buckets over timestamps, leading substring over strings, numeric bands
over numbers). Helpers take the bucket expression from the caller, who
knows the domain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "running_sum",
    "running_sums",
    "running_min_before",
    "global_row_number",
]

_RESERVED = ("_b", "_off", "_t")


def _check_reserved(df: DataFrame) -> None:
    clash = [c for c in _RESERVED if c in df.columns]
    if clash:
        raise ValueError(f"reserved prefix-scan columns present: {clash}")


def _guarded_bucket(bucket: Column) -> Column:
    """A NULL bucket has no position in the global order (and would be
    silently dropped by the offsets equi-join): fail loudly per row
    instead — the caller must map nulls to a real bucket explicitly."""
    return F.when(bucket.isNotNull(), bucket).otherwise(
        F.raise_error(F.lit("prefix scan: bucket expression produced NULL"))
    )


def _offset_window(partition_cols: list[str]) -> Window:
    """The exclusive cross-bucket prefix window. With partition_cols it
    parallelizes over groups; without, it is single-partition over the
    |buckets|-row totals — bounded by construction."""
    base = (
        Window.partitionBy(*partition_cols) if partition_cols else Window
    )
    return base.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)


def running_sum(
    df: DataFrame,
    value_col: str,
    bucket: Column,
    order_cols: list[str],
    *,
    out_col: str = "running_sum",
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over the order
    (bucket, *order_cols) — two-pass: per-bucket window + exclusive
    prefix offsets of the per-bucket totals (:func:`running_sums` is
    the grouped, multi-column form).

    ``order_cols`` must make rows unique WITHIN a bucket so the scan is
    deterministic; ``bucket`` must be order-aligned (see module doc).
    """
    _check_reserved(df)
    b = df.withColumn("_b", _guarded_bucket(bucket))
    w_in = (
        Window.partitionBy("_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.withColumn(out_col, F.sum(value_col).over(w_in))
    offsets = (
        b.groupBy("_b")
        .agg(F.sum(value_col).alias("_t"))
        .select("_b", F.sum("_t").over(_offset_window([])).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn(out_col, F.col(out_col) + F.coalesce(F.col("_off"), F.lit(0)))
        .drop("_b", "_off")
    )


def running_sums(
    df: DataFrame,
    value_cols: list[str],
    bucket: Column,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    out_cols: list[str] | None = None,
) -> DataFrame:
    """Inclusive running sums of SEVERAL columns over ONE order — the
    multi-column form of :func:`running_sum`. Spark evaluates all
    window functions sharing a WindowSpec in a single sort pass, so N
    running sums cost one per-bucket sort and one offsets pass instead
    of N of each (chaining :func:`running_sum` N times sorts N times
    and stacks N broadcast joins). Semantics per column are identical
    to the single-column helper at any partitioning.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    out = out_cols or [f"running_{c}" for c in value_cols]
    if len(out) != len(value_cols):
        raise ValueError("out_cols must match value_cols length")
    _check_reserved(df)
    dyn = [
        c
        for i in range(len(value_cols))
        for c in (f"_t{i}", f"_off{i}")
        if c in df.columns
    ]
    if dyn:
        raise ValueError(f"reserved prefix-scan columns present: {dyn}")
    pc = partition_cols or []
    b = df.withColumn("_b", _guarded_bucket(bucket))
    w_in = (
        Window.partitionBy(*pc, "_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = b.select(
        "*", *[F.sum(v).over(w_in).alias(o) for v, o in zip(value_cols, out)]
    )
    w_off = _offset_window(pc)
    offsets = (
        b.groupBy(*pc, "_b")
        .agg(*[F.sum(v).alias(f"_t{i}") for i, v in enumerate(value_cols)])
        .select(
            *pc,
            "_b",
            *[
                F.sum(f"_t{i}").over(w_off).alias(f"_off{i}")
                for i in range(len(value_cols))
            ],
        )
    )
    res = local.join(F.broadcast(offsets), [*pc, "_b"])
    for i, o in enumerate(out):
        res = res.withColumn(
            o, F.col(o) + F.coalesce(F.col(f"_off{i}"), F.lit(0))
        )
    return res.drop("_b", *[f"_off{i}" for i in range(len(value_cols))])


def running_min_before(
    df: DataFrame,
    value_col: str,
    bucket: Column,
    order_cols: list[str],
    *,
    out_col: str = "min_before",
) -> DataFrame:
    """EXCLUSIVE running min of ``value_col`` over the global order
    (bucket, *order_cols): for each row, the min over all STRICTLY
    preceding rows (null for the global first row) — the skyline /
    dominance primitive. Same two-pass decomposition as
    :func:`running_sum` (min is associative)."""
    _check_reserved(df)
    b = df.withColumn("_b", _guarded_bucket(bucket))
    w_in = (
        Window.partitionBy("_b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn(out_col, F.min(value_col).over(w_in))
    offsets = (
        b.groupBy("_b")
        .agg(F.min(value_col).alias("_t"))
        .select("_b", F.min("_t").over(_offset_window([])).alias("_off"))
    )
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn(out_col, F.least(F.col(out_col), F.col("_off")))
        .drop("_b", "_off")
    )


def global_row_number(
    df: DataFrame,
    bucket: Column,
    order_cols: list[str],
    *,
    partition_cols: list[str] | None = None,
    out_col: str = "rn",
) -> DataFrame:
    """1-based dense ROW_NUMBER over (*partition_cols, bucket,
    *order_cols) without a single-partition window: per-bucket
    row_number + the exclusive prefix sum of bucket row counts.
    ``partition_cols`` restarts the numbering per group (a grouped
    rank), keeping the scan parallel even when one group dominates."""
    _check_reserved(df)
    pc = partition_cols or []
    b = df.withColumn("_b", _guarded_bucket(bucket))
    w_in = Window.partitionBy(*pc, "_b").orderBy(*order_cols)
    local = b.withColumn(out_col, F.row_number().over(w_in).cast("long"))
    offsets = (
        b.groupBy(*pc, "_b")
        .agg(F.count("*").alias("_t"))
        .select(
            *pc,
            "_b",
            F.coalesce(
                F.sum("_t").over(_offset_window(pc)), F.lit(0)
            ).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), [*pc, "_b"])
        .withColumn(out_col, F.col(out_col) + F.col("_off"))
        .drop("_b", "_off")
    )
