"""Unit tests for the relational operator building blocks on tiny,
hand-constructed frames (the reference's fixture style — SURVEY.md §5)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_latest_per_key_picks_max_ts_with_tiebreak(spark):
    from bgg_data_warehouse_spark.operators.latest import latest_per_key

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), "old"),
            (1, datetime(2024, 1, 3), "new"),
            (2, datetime(2024, 1, 2), "only"),
            (3, datetime(2024, 1, 2), "tie-a"),
            (3, datetime(2024, 1, 2), "tie-b"),
        ],
        "game_id long, load_timestamp timestamp, name string",
    )
    out = latest_per_key(
        df, ["game_id"], [F.col("load_timestamp").desc(), F.col("name").desc()]
    )
    rows = {r.game_id: r.name for r in out.collect()}
    assert rows == {1: "new", 2: "only", 3: "tie-b"}
    assert out.count() == 3


def test_topk_per_key_ranks_and_limits(spark):
    from bgg_data_warehouse_spark.operators.latest import topk_per_key

    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(5)] + [(2, 9, 1.0)],
        "k long, id long, score double",
    )
    out = topk_per_key(df, ["k"], [F.col("score").desc(), F.col("id")], k=2)
    got = {(r.k, r.id, r.rank) for r in out.collect()}
    assert got == {(1, 4, 1), (1, 3, 2), (2, 9, 1)}


def test_merge_insert_missing_keeps_existing_rows(spark):
    from bgg_data_warehouse_spark.operators.merge import merge_insert_missing

    existing = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    incoming = spark.createDataFrame(
        [(2, "CHANGED"), (3, "c"), (3, "c-dup")], "id long, name string"
    )
    out = merge_insert_missing(existing, incoming, ["id"]).collect()
    by_id = {r.id: r.name for r in out}
    assert by_id[1] == "a"
    assert by_id[2] == "b"  # existing wins; MERGE is insert-if-absent only
    assert by_id[3] in ("c", "c-dup")  # one of the deduped incoming rows
    assert len(out) == 3


def test_delete_insert_replaces_all_rows_for_key(spark):
    from bgg_data_warehouse_spark.operators.merge import delete_insert

    existing = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "y"), (2, 1, "z")], "game_id long, seq long, v string"
    )
    replacement = spark.createDataFrame([(1, 9, "r")], "game_id long, seq long, v string")
    out = delete_insert(existing, replacement, ["game_id"]).collect()
    got = {(r.game_id, r.seq, r.v) for r in out}
    assert got == {(1, 9, "r"), (2, 1, "z")}


def test_salted_join_row_identical_to_plain_join(spark):
    from bgg_data_warehouse_spark.operators.skew import salted_join

    # hot key 1 dominates; keys 2/3 sparse; key 4 only on the left
    left = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(2, 900), (3, 901), (4, 902)],
        "k long, lv long",
    )
    right = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (5, "z")], "k long, rv string"
    )

    plain_inner = {(r.k, r.lv, r.rv) for r in left.join(right, "k").collect()}
    salted_inner = {
        (r.k, r.lv, r.rv)
        for r in salted_join(left, right, "k", salts=4).collect()
    }
    assert salted_inner == plain_inner and len(plain_inner) == 401


def test_salted_join_spreads_hot_key_and_keys_join_on_salt(spark):
    from bgg_data_warehouse_spark.operators.skew import salted_join

    left = spark.createDataFrame([(1, i) for i in range(500)], "k long, lv long")
    right = spark.createDataFrame([(1, "x")], "k long, rv string")
    out = salted_join(left, right, "k", salts=8)
    # the hot key's rows actually use >1 sub-key (the whole point)
    from bgg_data_warehouse_spark.operators.skew import SALT_COL
    from pyspark.sql import functions as F2

    salts_used = (
        left.withColumn(
            SALT_COL, F2.pmod(F2.xxhash64("k", "lv"), F2.lit(8)).cast("int")
        )
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert salts_used > 1
    # and the physical join key includes the salt column
    assert "_salt" in out._jdf.queryExecution().executedPlan().toString()


def test_validity_intervals_tile_without_overlap(spark):
    from datetime import date

    from bgg_data_warehouse_spark.operators.latest import validity_intervals

    df = spark.createDataFrame(
        [
            (1, 10, date(2024, 1, 1)),
            (1, 11, date(2024, 3, 1)),
            (1, 12, date(2024, 2, 1)),
            (2, 20, date(2024, 5, 5)),
        ],
        "k long, ver long, d date",
    )
    out = validity_intervals(
        df, ["k"], "d", [F.col("d").asc(), F.col("ver").asc()]
    ).collect()
    by_ver = {r.ver: r for r in out}
    # intervals tile: each version's valid_to is the next version's from
    assert by_ver[10].valid_to == by_ver[12].valid_from == date(2024, 2, 1)
    assert by_ver[12].valid_to == by_ver[11].valid_from == date(2024, 3, 1)
    # exactly one open current row per key
    assert by_ver[11].valid_to is None and by_ver[11].is_current
    assert by_ver[20].valid_to is None and by_ver[20].is_current
    assert sum(r.is_current for r in out) == 2


def test_inverted_index_postings_and_lookup(spark):
    """Postings carry exact tf per (term, doc); the summary's JSON list
    is doc-sorted."""
    import json

    from bgg_data_warehouse_spark.operators.inverted_index import (
        index_summary,
        inverted_postings,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a c c")], "doc_id long, text string"
    )
    postings = inverted_postings(df, "doc_id", "text")
    rows = {(r.tok, r.doc): r.tf for r in postings.collect()}
    assert rows == {
        ("a", 1): 2, ("a", 3): 1, ("b", 1): 1, ("b", 2): 1,
        ("c", 2): 1, ("c", 3): 2,
    }
    summ = {r.tok: r for r in index_summary(postings).collect()}
    assert summ["a"].df == 2 and summ["a"].cf == 3
    assert json.loads(summ["c"].postings_json) == [
        {"doc": 2, "tf": 1}, {"doc": 3, "tf": 2},
    ]


def test_profile_columns_single_pass_and_nulls(spark):
    """Null accounting, exact distincts, string-rendered ranges; the
    plan must contain exactly ONE scan of the input (single-pass)."""
    from bgg_data_warehouse_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "x", None), (2, None, 5.0), (3, "x", 7.0), (4, "y", 7.0)],
        "id long, s string, v double",
    )
    out = {r.column: r for r in profile_columns(df, ["id", "s", "v"]).collect()}
    assert out["id"].n_rows == 4 and out["id"].n_null == 0
    assert out["id"].n_distinct == 4
    assert (out["id"].min_v, out["id"].max_v) == ("1", "4")
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert out["v"].n_null == 1 and out["v"].n_distinct == 2
    assert out["v"].min_v == "5.0"
    plan = profile_columns(df, ["id", "s", "v"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 1
