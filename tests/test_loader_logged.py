"""S6/S7 logged twins (io.py, r14 VERDICT #1): the reference's loader
write strategies (`/root/reference/src/data_processor/loader.py:57-176`)
re-shaped as delta-sized generation appends. Contracts: multi-batch
histories match the snapshot wrappers bit-for-bit, appends never touch
base files, and the survivor computation moves no stored data (key
projection + broadcast semi/anti only)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from bgg_data_warehouse_spark.io import (
    _insert_missing_survivors,
    delete_insert_logged,
    delete_insert_table,
    merge_insert_missing_logged,
    merge_insert_missing_table,
    read_loader_table_logged,
    read_table,
)


def _dim(spark, rows):
    return spark.createDataFrame(rows, "k long, name string, v long")


def _contents(df):
    return {tuple(r) for r in df.collect()}


DIM_BATCHES = [
    # (batch rows) — keys 1..3 exist from batch 0; later batches mix
    # re-sends of existing keys (must NOT update) with new keys
    [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
    [(2, "B", 99), (4, "d", 40)],  # 2 re-sent (ignored), 4 new
    [(1, "A", 0), (4, "D", 0), (5, "e", 50)],  # only 5 survives
    [(6, "f", 60), (6, "f2", 61)],  # in-batch dup: one row wins
]


def test_merge_insert_missing_logged_matches_snapshot_wrapper(spark, tmp_path):
    root_log = str(tmp_path / "log")
    root_snap = str(tmp_path / "snap")
    for batch in DIM_BATCHES:
        # deterministic in-batch collapse (FIRST image per key) so the
        # dropDuplicates inside both wrappers has nothing to choose
        df = _dim(spark, batch)
        w = F.row_number().over(Window.partitionBy("k").orderBy("name", "v"))
        df = df.withColumn("_rn", w).where(F.col("_rn") == 1).drop("_rn")
        merge_insert_missing_logged(spark, df, root_log, "dim", ["k"])
        merge_insert_missing_table(spark, df, root_snap, "dim", ["k"])
    got = _contents(read_loader_table_logged(spark, root_log, "dim", ["k"]))
    want = _contents(read_table(spark, root_snap, "dim"))
    assert got == want
    assert (1, "a", 10) in got and (2, "b", 20) in got  # existing won
    assert (5, "e", 50) in got and (4, "d", 40) in got


BRG_BATCHES = [
    [(1, 100, 1.0), (1, 101, 2.0), (2, 200, 3.0)],
    [(1, 102, 9.0)],  # key 1 fully replaced: 100/101 gone
    [(2, 201, 4.0), (3, 300, 5.0), (2, 202, 6.0)],  # 2 replaced, 3 new
]


def test_delete_insert_logged_matches_snapshot_wrapper(spark, tmp_path):
    root_log = str(tmp_path / "log")
    root_snap = str(tmp_path / "snap")
    for batch in BRG_BATCHES:
        df = spark.createDataFrame(batch, "k long, item long, qty double")
        delete_insert_logged(spark, df, root_log, "brg", ["k"])
        delete_insert_table(spark, df, root_snap, "brg", ["k"])
    got = _contents(read_loader_table_logged(spark, root_log, "brg", ["k"]))
    assert got == _contents(read_table(spark, root_snap, "brg"))
    assert (1, 102, 9.0) in got and (1, 100, 1.0) not in got
    assert {(2, 201, 4.0), (2, 202, 6.0)} <= got and (2, 200, 3.0) not in got


def _base_files(store_dir):
    base = os.path.join(store_dir, "base")
    return {
        (f, os.path.getsize(os.path.join(base, f)), os.path.getmtime(os.path.join(base, f)))
        for f in os.listdir(base)
        if not f.startswith("_") or f == "_SUCCESS"
    }


def test_loader_logged_appends_never_touch_base(spark, tmp_path):
    """The point of the twins: per-batch IO is batch-sized — the base
    file set (names + sizes + mtimes) is bit-identical across appends
    (the snapshot wrappers rewrite the whole table per call)."""
    root = str(tmp_path)
    delete_insert_logged(
        spark,
        spark.createDataFrame(BRG_BATCHES[0], "k long, item long, qty double"),
        root,
        "brg",
        ["k"],
    )
    before = _base_files(os.path.join(root, "brg"))
    for batch in BRG_BATCHES[1:]:
        delete_insert_logged(
            spark,
            spark.createDataFrame(batch, "k long, item long, qty double"),
            root,
            "brg",
            ["k"],
            auto_compact=False,
        )
    assert _base_files(os.path.join(root, "brg")) == before


def test_insert_missing_survivors_plan_moves_no_stored_data(spark):
    """Scale pin: the stored side is a key PROJECTION probed by a
    LITERAL IN-filter (single-column key under the collect cap —
    row-group prunable on a key-clustered base), and the anti's right
    side is the broadcast present-key set — no SortMergeJoin, no
    corpus shuffle. Past the collect cap the probe falls back to the
    broadcast semi with identical results."""
    import bgg_data_warehouse_spark.io as io_mod

    stored = _dim(spark, [(i, "s", i) for i in range(1, 50)])
    incoming = _dim(spark, [(1, "x", 0), (99, "y", 1)])
    surv = _insert_missing_survivors(stored, incoming, ["k"])
    assert _contents(surv) == {(99, "y", 1)}
    plan = surv._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the anti on present keys
    assert " IN (" in plan or "INSET" in plan  # the literal probe
    # oversized delta: broadcast-semi fallback, same answer
    import pytest

    try:
        orig = io_mod.PROBE_COLLECT_MAX
        io_mod.PROBE_COLLECT_MAX = 0
        surv2 = _insert_missing_survivors(stored, incoming, ["k"])
        assert _contents(surv2) == {(99, "y", 1)}
        plan2 = surv2._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("BroadcastHashJoin") >= 2  # semi + anti
    finally:
        io_mod.PROBE_COLLECT_MAX = orig


def test_merge_insert_missing_logged_skips_empty_generation(spark, tmp_path):
    """A batch with nothing new appends NO generation (read
    amplification stays bounded by actual change, not call count)."""
    from bgg_data_warehouse_spark.log_store import _delta_dirs, _store_path

    root = str(tmp_path)
    df = _dim(spark, DIM_BATCHES[0])
    merge_insert_missing_logged(spark, df, root, "dim", ["k"])
    merge_insert_missing_logged(spark, df, root, "dim", ["k"])  # all dup
    assert _delta_dirs(_store_path(root, "dim"), committed=True) == []
    assert _contents(read_loader_table_logged(spark, root, "dim", ["k"])) == set(
        DIM_BATCHES[0]
    )


def test_refresh_additive_mv_logged_matches_full_recompute(spark, tmp_path):
    """Logged additive-MV maintenance: multi-epoch merged partials must
    equal the full aggregate (decimal-exact), appends never touch base,
    and the stored-prior point-read is a broadcast semi (no corpus
    shuffle)."""
    from bgg_data_warehouse_spark.io import refresh_additive_mv_logged
    from bgg_data_warehouse_spark.log_store import read_log_store

    root = str(tmp_path)
    batches = [
        [(1, "10.50", 1), (2, "3.25", 1), (1, "2.00", 1)],
        [(2, "1.75", 1), (3, "9.00", 1)],
        [(1, "0.25", 1), (3, "1.00", 1), (4, "7.77", 1)],
    ]
    rows = []
    for b in batches:
        df = spark.createDataFrame(
            [(k, v, n) for k, v, n in b], "k long, amt string, one long"
        ).select(
            "k", F.col("amt").cast("decimal(18,2)").alias("amt"), "one"
        )
        agg = df.groupBy("k").agg(
            F.sum("amt").alias("total"), F.sum("one").alias("n")
        )
        refresh_additive_mv_logged(
            spark, agg, root, "mv", ["k"], ["total"], count_cols=["n"],
            auto_compact=False,
        )
        rows += b
    want_df = spark.createDataFrame(
        [(k, v, n) for k, v, n in rows], "k long, amt string, one long"
    ).select("k", F.col("amt").cast("decimal(18,2)").alias("amt"), "one")
    want = {
        (r.k, str(r.total), r.n)
        for r in want_df.groupBy("k")
        .agg(F.sum("amt").alias("total"), F.sum("one").alias("n"))
        .collect()
    }
    got = {
        (r.k, str(r.total), r.n)
        for r in read_log_store(spark, root, "mv", ["k"]).collect()
    }
    assert got == want
    # epoch 2/3 appends never rewrote base (epoch 1 initialized it)
    base = os.path.join(root, "mv", "base")
    assert os.path.isdir(base)
    from bgg_data_warehouse_spark.log_store import _delta_dirs, _store_path

    assert len(_delta_dirs(_store_path(root, "mv"), committed=True)) == 2


def test_mv_logged_prior_point_read_is_broadcast(spark, tmp_path):
    """Scale pin: the stored-prior read of a logged MV refresh is a
    broadcast semi on the touched keys — the MV corpus is never
    shuffled for an epoch."""
    from bgg_data_warehouse_spark.io import refresh_additive_mv_logged
    from bgg_data_warehouse_spark.log_store import read_log_store
    from bgg_data_warehouse_spark.operators.merge import refresh_additive_mv

    root = str(tmp_path)
    big = spark.range(500).select(
        F.col("id").alias("k"),
        F.col("id").cast("decimal(18,2)").alias("total"),
        F.lit(1).cast("long").alias("n"),
    )
    refresh_additive_mv_logged(
        spark, big, root, "mv", ["k"], ["total"], count_cols=["n"]
    )
    stored = read_log_store(spark, root, "mv", ["k"])
    touched = spark.range(3).select(F.col("id").alias("k"))
    prior = stored.join(F.broadcast(touched), ["k"], "left_semi")
    delta = touched.select(
        "k",
        F.lit("1.00").cast("decimal(18,2)").alias("total"),
        F.lit(1).cast("long").alias("n"),
    )
    merged = refresh_additive_mv(prior, delta, ["k"], ["total", "n"])
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_layout_file_count_tracks_store_bytes(spark):
    """The compaction-layout partition count keeps its cores-proportional
    floor on small stores (pruning granularity despite AQE's one-file
    coalesce) and grows with store bytes past LAYOUT_TARGET_BYTES per
    file, so rows-per-file — the literal probe's read bound — stays
    constant as the corpus grows."""
    import bgg_data_warehouse_spark.io as io_mod

    floor_n = max(spark.sparkContext.defaultParallelism * 4, 16)
    target = io_mod.LAYOUT_TARGET_BYTES
    assert io_mod.layout_file_count(spark, None) == floor_n
    assert io_mod.layout_file_count(spark, 1024) == floor_n
    # 1000 target-sized files' worth of store: count tracks data
    assert io_mod.layout_file_count(spark, 1000 * target) == max(
        floor_n, 1000
    )
    # exact multiples round UP (ceil), never down
    assert io_mod.layout_file_count(spark, 1000 * target + 1) == max(
        floor_n, 1001
    )


def test_key_clustered_layout_uses_store_size(spark, tmp_path, monkeypatch):
    """With a store path and a tiny byte target, the clustered layout
    fans the folded base into bytes/target range partitions — the
    end-to-end wiring of the size-tracking count through an actual
    logged-loader compaction."""
    import bgg_data_warehouse_spark.io as io_mod
    from bgg_data_warehouse_spark.io import key_clustered_layout
    from bgg_data_warehouse_spark.log_store import (
        _base_path,
        _dir_bytes,
        _store_path,
        compact_log_store,
    )

    root = str(tmp_path)
    dim = _dim(spark, [(k, f"n{k}", k) for k in range(200)])
    merge_insert_missing_logged(spark, dim, root, "d", ["k"], auto_compact=False)
    merge_insert_missing_logged(
        spark,
        _dim(spark, [(k, f"m{k}", k) for k in range(150, 260)]),
        root,
        "d",
        ["k"],
        auto_compact=False,
    )
    store = _store_path(root, "d")
    # tiny target -> the store's on-disk bytes demand MORE than the
    # cores floor; monkeypatch the module constant
    monkeypatch.setattr(io_mod, "LAYOUT_TARGET_BYTES", 64)
    floor_n = max(spark.sparkContext.defaultParallelism * 4, 16)
    expected = io_mod.layout_file_count(spark, _dir_bytes(store))
    assert expected > floor_n
    layout = key_clustered_layout(spark, ["k"], store=store)
    assert compact_log_store(spark, root, "d", ["k"], layout=layout) == 1
    import os as _os

    base = _base_path(store)
    n_files = sum(
        1
        for _dir, _dd, files in _os.walk(base)
        for f in files
        if f.endswith(".parquet")
    )
    # range partitions with fewer distinct keys than partitions may
    # leave some empty (not written); the fan-out must still clearly
    # exceed the floor
    assert n_files > floor_n
    got = {
        (r["k"], r["name"])
        for r in read_loader_table_logged(spark, root, "d", ["k"]).collect()
    }
    want = {(k, f"n{k}") for k in range(200)} | {
        (k, f"n{k}" if k < 200 else f"m{k}") for k in range(150, 260)
    }
    assert got == want
