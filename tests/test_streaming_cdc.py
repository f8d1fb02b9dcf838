"""CDC apply (streaming/cdc.py) and staged-swap crash recovery
(io.recover_table): the logged state must equal ONE batch
apply_changelog over the concatenated log, same-epoch replay must be a
no-op, and deletes must actually remove state."""

from __future__ import annotations

from pyspark.sql import functions as F

SCHEMA = "k long, seq long, op string, val string, qty long"


def _epochs():
    """Three change epochs: inserts, an update+delete, a re-insert.
    seq is globally monotone across epochs (the CDC-feed contract)."""
    e0 = [
        (1, 1, "U", "a", 10),
        (2, 2, "U", "b", 20),
        (3, 3, "U", "c", 30),
        (1, 4, "U", "a2", 11),  # same-epoch second version of key 1
    ]
    e1 = [
        (2, 5, "U", "b2", 21),  # update
        (3, 6, "D", None, None),  # delete
        (4, 7, "U", "d", 40),  # insert
    ]
    e2 = [
        (3, 8, "U", "c-back", 31),  # re-insert after delete
        (4, 9, "D", None, None),  # delete a key inserted last epoch
    ]
    return [e0, e1, e2]


def _state(spark, root, name):
    from bgg_data_warehouse_spark.io import read_table

    return sorted(
        (r.k, r.val, r.qty) for r in read_table(spark, root, name).collect()
    )


def test_recover_table_live_cleans_stale_leftovers(spark, tmp_path):
    """With the table live, recover_table never touches it — but it
    DOES remove crash leftovers from the other window (died after the
    swap, before backup cleanup), which would otherwise leak a
    snapshot-sized directory per crash."""
    import os

    from bgg_data_warehouse_spark.io import recover_table, rewrite_table

    root = str(tmp_path / "tables")
    rewrite_table(
        spark.createDataFrame(_epochs()[0], SCHEMA).drop("op", "seq"),
        root,
        "cdc_state",
    )
    before = _state(spark, root, "cdc_state")
    stale_old = os.path.join(root, "cdc_state__old_cafe")
    stale_stage = os.path.join(root, "cdc_state__stage_beef")
    os.makedirs(stale_old)
    os.makedirs(stale_stage)
    assert recover_table(root, "cdc_state") is False
    assert _state(spark, root, "cdc_state") == before
    assert not os.path.exists(stale_old)
    assert not os.path.exists(stale_stage)


def test_recover_table_restores_newest_backup_by_ns_prefix(spark, tmp_path):
    """Two backups whose directory mtimes TIE must still recover the
    newer one — ordering rides the monotonic time_ns prefix _rewrite
    writes into backup names, not filesystem mtime."""
    import os

    from bgg_data_warehouse_spark.io import read_table, recover_table

    root = str(tmp_path / "tables")
    os.makedirs(root)
    final = os.path.join(root, "t")
    for ns, val in ((1_000, "stale"), (2_000, "fresh")):
        spark.createDataFrame([(val,)], "v string").write.parquet(
            f"{final}__old_{ns:020d}_ab"
        )
    # equalize mtimes so only the name prefix can order them
    for d in os.listdir(root):
        os.utime(os.path.join(root, d), (1_700_000_000, 1_700_000_000))
    assert recover_table(root, "t") is True
    assert [r.v for r in read_table(spark, root, "t").collect()] == ["fresh"]
    assert not any("__old_" in d for d in os.listdir(root))


def test_s6_s7_wrappers_recover_before_first_write_branch(spark, tmp_path):
    """The sibling 'table missing => first write' consumers
    (merge_insert_missing_table / delete_insert_table) must also heal a
    crashed swap instead of silently replacing accumulated state with
    one batch."""
    import os

    from bgg_data_warehouse_spark.io import (
        merge_insert_missing_table,
        read_table,
        write_table,
    )

    root = str(tmp_path / "tables")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    write_table(base, root, "dim")
    final = os.path.join(root, "dim")
    os.rename(final, final + "__old_00000000000000001000_xy")  # crash mid-swap
    merge_insert_missing_table(
        spark,
        spark.createDataFrame([(4, "d")], "id long, v string"),
        root,
        "dim",
        ["id"],
    )
    got = sorted((r.id, r.v) for r in read_table(spark, root, "dim").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_cdc_logged_matches_snapshot_applier_and_replays(spark, tmp_path):
    """The log-structured CDC state (r13): drained epochs through
    apply_cdc_log_batch equal ONE batch apply_changelog over the
    concatenated log; replay of the last epoch is a no-op; compaction
    folds to the same state. The composite (k) key exercises the
    store's key-list form."""
    from bgg_data_warehouse_spark.log_store import compact_log_store, read_log_store
    from bgg_data_warehouse_spark.operators.merge import apply_changelog
    from bgg_data_warehouse_spark.streaming.cdc import apply_cdc_log_batch

    root = str(tmp_path / "tables")
    kw = dict(keys=["k"], seq_cols=["seq"])
    for e in _epochs():
        apply_cdc_log_batch(
            spark.createDataFrame(e, SCHEMA), root, "logged",
            auto_compact=False, **kw,
        )

    def logged_state():
        return sorted(
            (r.k, r.val, r.qty)
            for r in read_log_store(spark, root, "logged", ["k"]).collect()
        )

    all_changes = spark.createDataFrame(
        [r for e in _epochs() for r in e], SCHEMA
    )
    base = all_changes.drop("op", "seq").limit(0)
    want = sorted(
        (r.k, r.val, r.qty)
        for r in apply_changelog(base, all_changes, ["k"], ["seq"]).collect()
    )
    # 1 updated in-epoch, 2 updated, 3 deleted-then-reinserted,
    # 4 inserted-then-deleted
    assert want == [(1, "a2", 11), (2, "b2", 21), (3, "c-back", 31)]
    assert logged_state() == want
    # replay the final epoch: duplicate generation, identical state
    apply_cdc_log_batch(
        spark.createDataFrame(_epochs()[-1], SCHEMA), root, "logged",
        auto_compact=False, **kw,
    )
    assert logged_state() == want
    # fold: base-only, same state
    assert compact_log_store(spark, root, "logged", ["k"]) >= 2
    assert logged_state() == want


def test_cdc_logged_epoch_never_touches_base(spark, tmp_path):
    """Delta-sizing pin: an epoch append leaves the state base's file
    set bit-identical — the snapshot applier rewrites it every epoch."""
    import os

    from bgg_data_warehouse_spark.log_store import _base_path, _store_path
    from bgg_data_warehouse_spark.streaming.cdc import apply_cdc_log_batch

    root = str(tmp_path / "tables")
    kw = dict(keys=["k"], seq_cols=["seq"], auto_compact=False)
    epochs = _epochs()
    apply_cdc_log_batch(
        spark.createDataFrame(epochs[0], SCHEMA), root, "logged", **kw
    )
    base_dir = _base_path(_store_path(root, "logged"))

    def snapshot(d):
        out = {}
        for dirpath, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(base_dir)
    for e in epochs[1:]:
        apply_cdc_log_batch(
            spark.createDataFrame(e, SCHEMA), root, "logged", **kw
        )
    assert snapshot(base_dir) == before
