"""Watermarked session windows (streaming/windowed.py): the streaming
plan must reproduce the batch sessionize formulations, and append mode
must emit a session only once the watermark closes it (the
state-eviction contract a 100 TB/day stream depends on)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_session_rollup_matches_batch_and_lag_formulation(spark, tmp_path):
    """Three formulations of 30-minute-gap sessionization must agree:
    the streaming session_window plan (memory sink), the same plan run
    as batch, and the lag-gap + running-sum batch sessionize query.
    (Gap semantics coincide unless an inter-event gap is EXACTLY the
    30-minute boundary, which microsecond fixture timestamps never
    produce.)"""
    from bgg_data_warehouse_spark.sources.tables import load_table
    from bgg_data_warehouse_spark.streaming.windowed import session_rollup
    from bgg_data_warehouse_spark.workload import QUERIES

    ev = load_table(spark, SF_SMALL, "events").select("ts", "user_id")
    landing = str(tmp_path / "landing")
    ev.write.parquet(landing)

    stream = spark.readStream.schema("ts timestamp, user_id long").parquet(
        landing
    )
    q = (
        session_rollup(stream)
        .writeStream.format("memory")
        .queryName("sess_complete")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def keyset(rows):
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in rows
        }

    got_stream = keyset(spark.table("sess_complete").collect())
    got_batch = keyset(session_rollup(ev).collect())
    want = keyset(
        QUERIES["sessionize"](spark, SF_SMALL)
        .select(
            "user_id",
            F.col("session_start"),
            F.col("session_end"),
            "n_events",
        )
        .collect()
    )
    assert got_stream == got_batch == want
    assert len(want) > 0


def test_session_rollup_stream_batch_agree_on_exact_gap_boundary(spark, tmp_path):
    """The one case the corpus-based three-way test above cannot reach:
    an inter-event gap of EXACTLY 30 minutes. Batch session_window
    merges it (inclusive gap comparison — pinned in test_round9_ops);
    the STREAMING state store must apply the identical merge rule, or
    stream and batch would silently diverge right at the boundary."""
    from bgg_data_warehouse_spark.streaming.windowed import session_rollup

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:30:00"),  # exactly the gap: must MERGE
            (1, "2024-01-01 11:00:00"),  # exactly the gap again: chains
            (1, "2024-01-01 11:30:01"),  # ONE second past: must SPLIT
        ],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    landing = str(tmp_path / "landing")
    ev.write.parquet(landing)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        landing
    )
    q = (
        session_rollup(stream)
        .writeStream.format("memory")
        .queryName("sess_boundary")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sess_boundary").collect()
    }
    got_batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_rollup(ev).collect()
    }
    assert got_stream == got_batch
    assert sorted(n for _, _, _, n in got_stream) == [1, 3]


def test_session_rollup_append_finalizes_closed_sessions(spark, tmp_path):
    """Append mode emits a session only after the watermark passes its
    end: file 1's 09:00 burst closes once file 2 advances event time to
    13:00 (watermark 11:00 > 09:10+gap); file 2's own open session is
    NOT emitted by availableNow."""
    from datetime import datetime as d

    from bgg_data_warehouse_spark.streaming.windowed import session_rollup

    landing = tmp_path / "landing"
    landing.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, "ts timestamp, user_id long").coalesce(
            1
        ).write.mode("append").parquet(str(landing / name))

    write_file("f1", [(d(2024, 1, 1, 9, 0), 1), (d(2024, 1, 1, 9, 10), 1)])
    write_file("f2", [(d(2024, 1, 1, 13, 0), 1)])
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing / "*"))
    )
    q = (
        session_rollup(stream)
        .writeStream.format("memory")
        .queryName("sess_append")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("sess_append").collect()
    assert [
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in rows
    ] == [(1, d(2024, 1, 1, 9, 0), d(2024, 1, 1, 9, 10), 2)]
