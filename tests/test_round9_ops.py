"""Round-9 fixes and additions.

Round-8 ADVICE items (both were `low`):
- recover_table: the final dir can exist while table_exists is False
  (only underscore-prefixed entries, e.g. a bare _SUCCESS); restoring a
  backup over it must not die on ENOTEMPTY.
- archive_old_rows: a maintenance entry point gated on table_exists
  must heal a crashed swap first, like every other first-write site.
"""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from bgg_data_warehouse_spark.io import (
    archive_old_rows,
    read_table,
    recover_table,
    table_exists,
    write_table,
)


def test_recover_table_heals_underscore_only_final_dir(spark, tmp_path):
    """table_exists is False when the final dir holds only
    underscore-prefixed entries (a bare _SUCCESS from an interrupted
    empty write). With a leftover backup, recovery must restore it —
    not raise ENOTEMPTY on the rename and permanently wedge every
    write path that calls recover_table first."""
    root = str(tmp_path / "tables")
    os.makedirs(root)
    write_table(
        spark.createDataFrame([Row(v="live")]),
        root,
        "t__old_00000000000000000001_aa",
    )
    final = os.path.join(root, "t")
    os.makedirs(final)
    open(os.path.join(final, "_SUCCESS"), "w").close()
    assert not table_exists(root, "t")
    assert recover_table(root, "t") is True
    assert [r.v for r in read_table(spark, root, "t").collect()] == ["live"]
    assert not any("__old_" in d for d in os.listdir(root))


def test_archive_old_rows_heals_crashed_swap_first(spark, tmp_path):
    """A crash between _rewrite's two renames leaves only a backup; the
    next archive_old_rows call must restore the table rather than
    silently reporting 0 rows archived against a missing table."""
    root = str(tmp_path / "tables")
    os.makedirs(root)
    df = spark.sql("SELECT 1 AS v, current_timestamp() AS ts")
    write_table(df, root, "t__old_00000000000000000001_aa")
    assert not table_exists(root, "t")
    # nothing is old enough to archive — but the table must come back
    assert archive_old_rows(spark, root, "t", "ts") == 0
    assert table_exists(root, "t")
    assert read_table(spark, root, "t").count() == 1


def test_session_window_inclusive_gap_boundary(spark):
    """The exact-gap boundary the ``session_rollup_batch`` oracle
    encodes — MEASURED, not assumed: Spark's ``session_window`` MERGES
    an event arriving exactly ``gap`` after the previous one (inclusive
    comparison), agreeing with the lag-gap strict-``>`` new-session
    predicate the oracle uses. Testdata's microsecond timestamps never
    land on the exact boundary, so only this fixture guards the
    convention; if a Spark upgrade flipped it to half-open, this test
    fails before the driver gate silently diverges."""
    from bgg_data_warehouse_spark.streaming.windowed import session_rollup

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:30:00"),  # exactly the gap: MERGES
            (1, "2024-01-01 11:00:00"),  # exactly the gap again: chains
            (1, "2024-01-01 11:30:01"),  # ONE SECOND past: SPLITS
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    sessions = session_rollup(ev).collect()
    assert sorted(r.n_events for r in sessions) == [1, 3]
    # lag-gap (>) agrees: boundary events merged, past-gap event split
    w = "PARTITION BY user_id ORDER BY ts"
    lag_sessions = ev.selectExpr(
        "user_id",
        f"CASE WHEN lag(ts) OVER ({w}) IS NULL "
        f"OR ts - lag(ts) OVER ({w}) > INTERVAL 30 MINUTE "
        "THEN 1 ELSE 0 END AS new_sess",
    ).agg(F.sum("new_sess")).collect()[0][0]
    assert lag_sessions == 2


def test_game_neighbors_layout_prunes_by_profile(spark, tmp_path):
    """The neighbors table partitions on profile (io.LAYOUTS), mirroring
    the reference's clusterBy ["profile", "game_id"]
    (game_neighbors.sqlx:6-8): the untuned get_similar lookup scans one
    profile directory, not every profile's files."""
    from bgg_data_warehouse_spark.io import LAYOUTS

    assert LAYOUTS["game_neighbors"].partition_cols == ["profile"]
    assert LAYOUTS["game_neighbors"].sort_cols == ["game_id"]
    root = str(tmp_path)
    df = spark.createDataFrame(
        [
            Row(profile="default", game_id=1, similar=[11, 12]),
            Row(profile="alt", game_id=1, similar=[13]),
        ]
    )
    write_table(df, root, "game_neighbors")
    dirs = sorted(os.listdir(os.path.join(root, "game_neighbors")))
    assert "profile=alt" in dirs and "profile=default" in dirs
