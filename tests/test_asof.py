"""asof_join — backward inclusive semantics and the one-shuffle plan
contract."""

from __future__ import annotations

from datetime import datetime

from bgg_data_warehouse_spark.operators.asof import asof_join


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-01T10:00:00")),
            (2, "k1", _ts("2024-01-01T12:00:00")),
            (3, "k1", _ts("2024-01-01T09:00:00")),  # before any right row
            (4, "k2", _ts("2024-01-01T10:30:00")),
            (5, "k3", _ts("2024-01-01T10:00:00")),  # key with no right rows
        ],
        "id: long, k: string, ts: timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts("2024-01-01T10:00:00"), 100.0),  # equal ts → inclusive
            ("k1", _ts("2024-01-01T11:00:00"), 110.0),
            ("k2", _ts("2024-01-01T10:00:00"), 200.0),
            ("k2", _ts("2024-01-01T11:00:00"), 210.0),
        ],
        "k: string, ts: timestamp, px: double",
    )
    return left, right


def test_backward_inclusive_and_nulls(spark):
    left, right = _frames(spark)
    got = {
        r.id: r.px
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
        ).collect()
    }
    assert got == {1: 100.0, 2: 110.0, 3: None, 4: 200.0, 5: None}


def test_left_columns_and_rowcount_preserved(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
    )
    assert out.columns == ["id", "k", "ts", "px"]
    assert out.count() == left.count()


def test_single_shuffle_plan(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one hash-partition exchange on the key — no join node, no range blowup
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_segmented_matches_plain_asof(spark):
    from bgg_data_warehouse_spark.operators.asof import asof_join_segmented

    left, right = _frames(spark)
    got = {
        r.id: r.px
        for r in asof_join_segmented(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
        ).collect()
    }
    assert got == {1: 100.0, 2: 110.0, 3: None, 4: 200.0, 5: None}


def test_segmented_bucket_boundaries_exact(spark):
    """Tiny buckets force every cross-bucket carry path: a left row whose
    match is many buckets earlier, an in-bucket match, and a same-bucket
    LATER right row that must NOT leak backward through the summary."""
    from bgg_data_warehouse_spark.operators.asof import asof_join_segmented

    left = spark.createDataFrame(
        [
            (1, "k", _ts("2024-01-03T00:00:10")),  # carry across 2 empty days
            (2, "k", _ts("2024-01-01T00:00:05")),  # in-bucket predecessor
            (3, "k", _ts("2024-01-01T00:00:01")),  # bucket's right row is LATER
        ],
        "id: long, k: string, ts: timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01T00:00:03"), 1.0),
        ],
        "k: string, ts: timestamp, px: double",
    )
    got = {
        r.id: r.px
        for r in asof_join_segmented(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
        ).collect()
    }
    assert got == {1: 1.0, 2: 1.0, 3: None}


def test_segmented_plan_partitions_by_key_and_bucket(spark):
    from bgg_data_warehouse_spark.operators.asof import asof_join_segmented

    left, right = _frames(spark)
    plan = (
        asof_join_segmented(
            left, right, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # heavy pass is per-(key, bucket): an exchange keyed on _k AND _b
    assert re.search(r"hashpartitioning\(_k#\d+, _b#\d+", plan), plan[:1500]
