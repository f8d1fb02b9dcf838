"""Distributed prefix scans (operators/prefix.py) and the sweep-line
interval concurrency built on them (operators/sweepline.py).

The load-bearing property: every two-pass bucketed scan is
BIT-IDENTICAL to the single-partition global window it replaces, for
any bucket granularity — that equivalence is what lets the gated
queries use the scalable form while their DuckDB oracles use the
textbook form."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bgg_data_warehouse_spark.operators.prefix import (
    global_row_number,
    running_min_before,
    running_sum,
)
from bgg_data_warehouse_spark.operators.sweepline import (
    interval_boundaries,
    interval_concurrency,
)


def _data(spark, n=2000, seed=11):
    rnd = random.Random(seed)
    rows = [(i, rnd.randrange(100), rnd.randrange(-5, 6)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, key long, val long")


def _global(df, what):
    w = Window.orderBy("key", "id")
    if what == "sum":
        c = F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0))
    elif what == "min_before":
        c = F.min("val").over(w.rowsBetween(Window.unboundedPreceding, -1))
    else:
        c = F.row_number().over(w).cast("long")
    return {r["id"]: r["x"] for r in df.select("id", c.alias("x")).collect()}


@pytest.mark.parametrize("width", [1, 10, 1000])
def test_running_sum_matches_global_window_any_bucketing(spark, width):
    df = _data(spark)
    bucket = (F.col("key") / width).cast("long")
    got = {
        r["id"]: r["rs"]
        for r in running_sum(df, "val", bucket, ["key", "id"], out_col="rs")
        .select("id", "rs")
        .collect()
    }
    assert got == _global(df, "sum")


def test_running_min_before_matches_global_window(spark):
    df = _data(spark, seed=12)
    bucket = (F.col("key") / 7).cast("long")
    got = {
        r["id"]: r["mb"]
        for r in running_min_before(
            df, "val", bucket, ["key", "id"], out_col="mb"
        )
        .select("id", "mb")
        .collect()
    }
    want = _global(df, "min_before")
    assert got == want
    # the global first row has no predecessor
    assert None in got.values() or None in want.values()


def test_global_row_number_matches_global_window(spark):
    df = _data(spark, seed=13)
    bucket = (F.col("key") / 25).cast("long")
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, bucket, ["key", "id"])
        .select("id", "rn")
        .collect()
    }
    want = _global(df, "rn")
    assert got == want
    assert sorted(got.values()) == list(range(1, len(got) + 1))


def test_prefix_rejects_reserved_columns(spark):
    df = spark.createDataFrame([(1, 2)], "id long, _b long")
    with pytest.raises(ValueError, match="reserved"):
        running_sum(df, "id", F.lit(0), ["id"])


def test_scan_plan_single_partition_only_for_bucket_offsets(spark):
    """The ONLY single-partition exchange in a scan's plan must be the
    |buckets|-row offset table; the data path runs through the
    partitioned bucket window."""
    from tests.test_plan_audit import final_plan

    df = _data(spark, n=500)
    out = running_sum(
        df, "val", (F.col("key") / 10).cast("long"), ["key", "id"]
    )
    out.collect()
    plan = final_plan(out)
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Exchange hashpartitioning(_b" in plan, plan


def test_interval_boundaries_emit_one_pair_per_interval(spark):
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 20, 30)], "id long, s long, e long"
    )
    rows = {
        (r["t"], r["delta"], r["id"])
        for r in interval_boundaries(df, "s", "e", "id").collect()
    }
    assert rows == {(10, 1, 1), (20, -1, 1), (20, 1, 2), (30, -1, 2)}


def _intervals(spark, rows):
    """(id, s, e) with s/e given in 10-minute steps, so intervals cross
    the scan's hour buckets."""
    def ts(step):
        return datetime(2024, 1, 1) + timedelta(minutes=10 * step)

    return spark.createDataFrame(
        [(i, ts(s), ts(e)) for i, s, e in rows],
        "id long, s timestamp, e timestamp",
    )


def test_interval_concurrency_half_open_back_to_back_never_overlaps(spark):
    # [10,20) then [20,30): the close at 20 precedes the open at 20,
    # so concurrency never exceeds 1
    df = _intervals(spark, [(1, 10, 20), (2, 20, 30)])
    conc = interval_concurrency(df, "s", "e", "id")
    peaks = [r["concurrency"] for r in conc.where("delta = 1").collect()]
    assert max(peaks) == 1


def test_interval_concurrency_counts_true_overlap(spark):
    # [10,25) overlaps [20,30): peak 2; [40,50) is alone again
    df = _intervals(spark, [(1, 10, 25), (2, 20, 30), (3, 40, 50)])
    conc = interval_concurrency(df, "s", "e", "id")
    got = {
        r["id"]: r["concurrency"] for r in conc.where("delta = 1").collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}


def test_null_bucket_raises_instead_of_dropping_rows(spark):
    df = spark.createDataFrame(
        [(1, None, 2), (2, 10, 3)], "id long, key long, val long"
    )
    with pytest.raises(Exception, match="bucket expression produced NULL"):
        running_sum(df, "val", F.col("key"), ["key", "id"]).collect()


@pytest.mark.parametrize("width", [1, 10, 1000])
def test_running_sums_multi_column_matches_single_column_form(spark, width):
    """The single-sort multi-column scan is column-wise identical to
    chaining running_sum, and to the bare global window, at every
    bucket granularity."""
    from bgg_data_warehouse_spark.operators.prefix import running_sums

    df = _data(spark).withColumn("val2", F.col("val") * 3 + 1)
    bucket = (F.col("key") / width).cast("long")
    got = {
        r["id"]: (r["a"], r["b"])
        for r in running_sums(
            df, ["val", "val2"], bucket, ["key", "id"], out_cols=["a", "b"]
        )
        .select("id", "a", "b")
        .collect()
    }
    w = Window.orderBy("key", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["a"], r["b"])
        for r in df.select(
            "id",
            F.sum("val").over(w).alias("a"),
            F.sum("val2").over(w).alias("b"),
        ).collect()
    }
    assert got == want


def test_running_sums_validation(spark):
    from bgg_data_warehouse_spark.operators.prefix import running_sums

    df = _data(spark)
    with pytest.raises(ValueError, match="non-empty"):
        running_sums(df, [], F.col("key"), ["key", "id"])
    with pytest.raises(ValueError, match="out_cols"):
        running_sums(df, ["val"], F.col("key"), ["key", "id"], out_cols=["a", "b"])
    bad = df.withColumn("_off0", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        running_sums(bad, ["val"], F.col("key"), ["key", "id"])
