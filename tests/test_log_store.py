"""Log-structured generational store (log_store.py, r12 VERDICT #3):
generational reads must equal the replace-by-key semantics, appends must
write only delta-sized bytes (base untouched), compaction must fold to
an identical base, and every crash window in the module's matrix must
heal — including idempotent replay of generations a crashed compaction
already folded."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bgg_data_warehouse_spark import log_store
from bgg_data_warehouse_spark.log_store import (
    _base_path,
    _delta_dirs,
    _store_path,
    append_log_delta,
    compact_log_store,
    init_log_store,
    log_store_exists,
    read_log_store,
    recover_log_store,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc long, tok string, tf long")


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc long")


def _contents(df):
    return {(r.doc, r.tok, r.tf) for r in df.collect()}


BASE_ROWS = [(1, "a", 1), (1, "b", 2), (2, "c", 1), (3, "d", 4), (4, "e", 1)]


def _store(spark, root):
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    # gen 0: re-ingest doc 1 (replaces BOTH its base rows), delete doc 2
    append_log_delta(
        root, "idx", _df(spark, [(1, "x", 9)]), "doc",
        tombstones=_keys(spark, [2]),
    )
    # gen 1: re-ingest doc 2 (re-created after delete), delete doc 3,
    # re-ingest doc 5 (never in base)
    append_log_delta(
        root, "idx", _df(spark, [(2, "y", 7), (5, "z", 1)]), "doc",
        tombstones=_keys(spark, [3]),
    )
    return {(1, "x", 9), (2, "y", 7), (4, "e", 1), (5, "z", 1)}


def test_generational_read_replace_by_key(spark, tmp_path):
    root = str(tmp_path)
    want = _store(spark, root)
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_newest_generation_wins_and_within_gen_delete_wins(spark, tmp_path):
    root = str(tmp_path)
    _store(spark, root)
    # gen 2: doc 1 both re-ingested and tombstoned in ONE generation —
    # deletion wins structurally (rows anti-joined on write); doc 5
    # re-ingested again — newest generation's rows win
    append_log_delta(
        root, "idx", _df(spark, [(1, "q", 1), (5, "w", 2)]), "doc",
        tombstones=_keys(spark, [1]),
    )
    got = _contents(read_log_store(spark, root, "idx", "doc"))
    assert got == {(2, "y", 7), (4, "e", 1), (5, "w", 2)}


def test_append_writes_only_delta_bytes(spark, tmp_path):
    """The whole point of the store: an epoch append never rewrites the
    base — base's file set (names + sizes + mtimes) is bit-identical
    before and after, and the new generation's bytes are the only new
    bytes in the store."""
    root = str(tmp_path)
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    base_dir = _base_path(_store_path(root, "idx"))

    def snapshot(d):
        out = {}
        for dirpath, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(base_dir)
    gen = append_log_delta(
        root, "idx", _df(spark, [(9, "n", 1)]), "doc",
        tombstones=_keys(spark, [1]),
    )
    assert snapshot(base_dir) == before
    assert os.path.isdir(os.path.join(_store_path(root, "idx"), gen))


def test_compaction_folds_to_identical_base(spark, tmp_path):
    root = str(tmp_path)
    want = _store(spark, root)
    before = _contents(read_log_store(spark, root, "idx", "doc"))
    n = compact_log_store(spark, root, "idx", "doc")
    assert n == 2
    assert _delta_dirs(_store_path(root, "idx"), committed=True) == []
    after = read_log_store(spark, root, "idx", "doc")
    assert _contents(after) == before == want
    # post-compaction reads are a plain base scan — no merge joins
    plan = after._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_torn_append_invisible_and_healed(spark, tmp_path):
    root = str(tmp_path)
    want = _store(spark, root)
    # simulate a crash mid-append: generation dir without _COMMITTED
    store = _store_path(root, "idx")
    torn = os.path.join(store, "delta_99999999999999999999_dead")
    _df(spark, [(4, "BAD", 1)]).write.parquet(os.path.join(torn, "rows"))
    _keys(spark, [1]).write.parquet(os.path.join(torn, "tombstones"))
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    recover_log_store(root, "idx")
    assert not os.path.isdir(torn)


def test_mid_swap_crash_heals_from_backup(spark, tmp_path):
    root = str(tmp_path)
    want = _store(spark, root)
    store = _store_path(root, "idx")
    # simulate compaction dying between the swap's two renames: base
    # renamed to a backup, staging never promoted
    os.rename(
        _base_path(store), os.path.join(store, "base__old_00000000000000000001_x")
    )
    assert recover_log_store(root, "idx") is True
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_folded_generations_replay_idempotently(spark, tmp_path):
    """Crash window: compaction swapped the new base in but died before
    deleting the folded generations. Readers must already be correct
    (replay is a no-op), and the next compaction folds the leftovers."""
    import shutil

    root = str(tmp_path)
    want = _store(spark, root)
    store = _store_path(root, "idx")
    gens = _delta_dirs(store, committed=True)
    saved = str(tmp_path / "saved_gens")
    for g in gens:
        shutil.copytree(g, os.path.join(saved, os.path.basename(g)))
    compact_log_store(spark, root, "idx", "doc")
    for g in os.listdir(saved):  # resurrect the folded generations
        shutil.copytree(os.path.join(saved, g), os.path.join(store, g))
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    assert compact_log_store(spark, root, "idx", "doc") == len(gens)
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_read_merge_base_anti_is_broadcast(spark, tmp_path, monkeypatch):
    """Scale pin: base rows are never shuffled for a read. On the
    driver-resolved fast path (r16) the base exits via a literal
    NOT-IN filter — no join at all; on the distributed path the exit
    is a BROADCAST anti on the delta-bounded touched-key set."""
    root = str(tmp_path)
    _store(spark, root)
    plan = (
        read_log_store(spark, root, "idx", "doc")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # fast path: filter exit, no join of base at all
    assert "LeftAnti" not in plan and "SortMergeJoin" not in plan
    assert "NOT doc" in plan or "isnull" in plan.lower()
    monkeypatch.setattr(log_store, "DRIVER_MERGE", False)
    plan_dist = (
        read_log_store(spark, root, "idx", "doc")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_dist and "LeftAnti" in plan_dist
    assert "SortMergeJoin" not in plan_dist


def test_merge_broadcast_hint_has_absolute_bound(spark, tmp_path, monkeypatch):
    """r13 VERDICT #1: below BROADCAST_TOUCHED_MAX_BYTES the merge's
    touched-key anti carries the broadcast hint; above it the hint is
    DROPPED (AQE plans from runtime sizes) — a relative compaction bound
    alone would license a 20%-of-100TB delta that cannot broadcast, and
    compaction itself routes through this merge."""
    import bgg_data_warehouse_spark.log_store as ls

    root = str(tmp_path)
    _store(spark, root)

    def anti_hinted(df) -> bool:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        anti = plan.split("LeftSemi")[0]  # the base-exit anti comes first
        assert "LeftAnti" in anti
        return "strategy=broadcast" in anti

    # the hint pin concerns the DISTRIBUTED merge (the r16 driver-merge
    # fast path has no join to hint — pinned elsewhere)
    monkeypatch.setattr(log_store, "DRIVER_MERGE", False)
    assert anti_hinted(read_log_store(spark, root, "idx", "doc"))
    monkeypatch.setattr(ls, "BROADCAST_TOUCHED_MAX_BYTES", 0)
    over = read_log_store(spark, root, "idx", "doc")
    assert not anti_hinted(over)
    # correctness is hint-independent: same contents either way
    assert _contents(over) == _store_want()


def _store_want():
    return {(1, "x", 9), (2, "y", 7), (4, "e", 1), (5, "z", 1)}


def test_absolute_delta_bytes_triggers_compaction(spark, tmp_path, monkeypatch):
    """The compaction policy's ABSOLUTE byte trigger (r13 VERDICT #1):
    generations whose bytes exceed MAX_DELTA_BYTES fold even when the
    count and relative-fraction triggers are nowhere near firing."""
    from bgg_data_warehouse_spark.log_store import compact_if_needed

    root = str(tmp_path)
    want = _store(spark, root)  # 2 generations, tiny but nonzero bytes
    monkeypatch.setattr(log_store, "MAX_DELTA_FRACTION", 1e9)
    monkeypatch.setattr(log_store, "MAX_DELTA_BYTES", 1 << 40)
    assert compact_if_needed(spark, root, "idx", "doc") == 0
    monkeypatch.setattr(log_store, "MAX_DELTA_BYTES", 1)
    assert compact_if_needed(spark, root, "idx", "doc") == 2
    assert _delta_dirs(_store_path(root, "idx"), committed=True) == []
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_reads_never_reap_torn_generations(spark, tmp_path):
    """ADVICE r13 (medium): a reader in a separate serving process must
    not rmtree a generation the single writer is mid-append on — reads
    only heal the base swap; torn-dir cleanup happens on write paths."""
    root = str(tmp_path)
    want = _store(spark, root)
    store = _store_path(root, "idx")
    torn = os.path.join(store, "delta_99999999999999999999_torn")
    _df(spark, [(9, "MID_APPEND", 1)]).write.parquet(os.path.join(torn, "rows"))
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    assert os.path.isdir(torn), "read path deleted an in-flight append"
    # the next WRITE reaps it
    append_log_delta(root, "idx", _df(spark, [(6, "f", 1)]), "doc")
    assert not os.path.isdir(torn)


def test_append_tombstone_disjointness_survives_nondeterminism(spark, tmp_path):
    """ADVICE r13 (low): the rows anti-join runs against the RE-READ
    on-disk tombstones, so a non-deterministic tombstone input cannot
    leave key-overlapping rows and tombstones in one generation (which
    would silently break 'deletion wins within a generation')."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import BooleanType

    import random

    flip = udf(lambda _: random.random() < 0.5, BooleanType()).asNondeterministic()
    root = str(tmp_path)
    rows = _df(spark, [(i, "t", i) for i in range(64)])
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    volatile = rows.select("doc").where(flip(F.col("doc")))
    gen = append_log_delta(root, "idx", rows, "doc", tombstones=volatile)
    gdir = os.path.join(_store_path(root, "idx"), gen)
    on_disk_rows = {
        r.doc for r in spark.read.parquet(os.path.join(gdir, "rows")).collect()
    }
    on_disk_tombs = {
        r.doc
        for r in spark.read.parquet(os.path.join(gdir, "tombstones")).collect()
    }
    assert on_disk_rows.isdisjoint(on_disk_tombs)
    # every key is either tombstoned or survives into rows — exactly
    assert on_disk_rows | on_disk_tombs == set(range(64))


def test_delta_only_first_epoch_then_exists(spark, tmp_path):
    root = str(tmp_path)
    assert not log_store_exists(root, "idx")
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    assert log_store_exists(root, "idx")


def test_compact_if_needed_policy(spark, tmp_path, monkeypatch):
    """Below both thresholds: no fold (per-epoch cost stays delta-sized);
    past the generation-count threshold: folds."""
    from bgg_data_warehouse_spark.log_store import compact_if_needed

    root = str(tmp_path)
    _store(spark, root)  # 2 generations
    monkeypatch.setattr(log_store, "MAX_DELTA_FRACTION", 10.0)
    assert compact_if_needed(spark, root, "idx", "doc") == 0
    monkeypatch.setattr(log_store, "MAX_GENERATIONS", 1)
    assert compact_if_needed(spark, root, "idx", "doc") == 2
    assert _delta_dirs(_store_path(root, "idx"), committed=True) == []


# ---------------------------------------------------------------------------
# paired log store: a vectors + neighbours pair with delta-sized writes —
# both parts share one generation commit and one base swap
# ---------------------------------------------------------------------------


VEC_SCHEMA = "vec_id long, label double, vec array<double>"
NBR_SCHEMA = "query_id long, nbr_id long, cosine_sim double, rank int"
PAIR_KEYS = {"vectors": "vec_id", "neighbors": "query_id"}
VEC_BASE = [
    (1, 0.0, [1.0, 0.0]), (2, 0.0, [0.0, 1.0]),
    (3, 1.0, [1.0, 1.0]), (4, 1.0, [1.0, 2.0]),
]
NBR_BASE = [(1, 2, 0.0, 1), (2, 1, 0.0, 1), (3, 4, 0.948683, 1), (4, 3, 0.948683, 1)]
# per epoch: (vector rows, deleted vec_ids, neighbour rows, deleted query_ids)
PAIR_EPOCHS = [
    # vector 4 leaves, vector 5 arrives next to 3
    ([(5, 1.0, [2.0, 2.0])], [4], [(3, 5, 1.0, 1), (5, 3, 1.0, 1)], [4]),
    # vector 2 moves towards 1
    ([(2, 0.0, [1.0, 0.1])], [], [(1, 2, 0.995037, 1), (2, 1, 0.995037, 1)], []),
]
PAIR_FINAL = (
    {(1, (1.0, 0.0)), (2, (1.0, 0.1)), (3, (1.0, 1.0)), (5, (2.0, 2.0))},
    {(1, 2, 0.995037, 1), (2, 1, 0.995037, 1), (3, 5, 1.0, 1), (5, 3, 1.0, 1)},
)


def _pair_append(spark, root, epoch):
    from bgg_data_warehouse_spark.log_store import append_pair_delta

    vec_rows, vec_del, nbr_rows, nbr_del = epoch

    def ids(values, col):
        if not values:
            return None
        return spark.createDataFrame([(v,) for v in values], f"{col} long")

    return append_pair_delta(
        root,
        "nbr",
        {
            "vectors": (
                spark.createDataFrame(vec_rows, VEC_SCHEMA),
                ids(vec_del, "vec_id"),
                "vec_id",
            ),
            "neighbors": (
                spark.createDataFrame(nbr_rows, NBR_SCHEMA),
                ids(nbr_del, "query_id"),
                "query_id",
            ),
        },
    )


def _pair_store(spark, root):
    """A vectors + neighbours pair store: base plus the two epochs."""
    from bgg_data_warehouse_spark.log_store import init_pair_store

    init_pair_store(
        root,
        "nbr",
        {
            "vectors": spark.createDataFrame(VEC_BASE, VEC_SCHEMA),
            "neighbors": spark.createDataFrame(NBR_BASE, NBR_SCHEMA),
        },
    )
    for epoch in PAIR_EPOCHS:
        _pair_append(spark, root, epoch)


def _pair_read(spark, root):
    from bgg_data_warehouse_spark.log_store import read_pair_store

    vectors = read_pair_store(spark, root, "nbr", "vectors", "vec_id")
    neighbors = read_pair_store(spark, root, "nbr", "neighbors", "query_id")
    return (
        {(r.vec_id, tuple(r.vec)) for r in vectors.collect()},
        {(r.query_id, r.nbr_id, r.cosine_sim, r.rank) for r in neighbors.collect()},
    )


def test_logged_epoch_replay_and_compaction(spark, tmp_path):
    """A replayed epoch (foreachBatch re-runs the last uncommitted
    batch) appends a duplicate generation whose rows replace their
    identical older copies: reads are unchanged, before and after the
    fold."""
    root = str(tmp_path)
    want = _store(spark, root)
    append_log_delta(
        root, "idx", _df(spark, [(2, "y", 7), (5, "z", 1)]), "doc",
        tombstones=_keys(spark, [3]),
    )
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    compact_log_store(spark, root, "idx", "doc")
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_neighbors_pair_log_replay_and_compaction(spark, tmp_path):
    """Both parts read back base + generations by key; a replayed epoch
    leaves them unchanged; one swap folds both parts, results unchanged."""
    from bgg_data_warehouse_spark.log_store import compact_pair_store

    root = str(tmp_path / "tables")
    _pair_store(spark, root)
    assert _pair_read(spark, root) == PAIR_FINAL
    _pair_append(spark, root, PAIR_EPOCHS[-1])
    assert _pair_read(spark, root) == PAIR_FINAL
    assert compact_pair_store(spark, root, "nbr", PAIR_KEYS) == 3
    assert _delta_dirs(_store_path(root, "nbr"), committed=True) == []
    assert _pair_read(spark, root) == PAIR_FINAL


def test_neighbors_pair_log_epoch_writes_are_delta_sized(spark, tmp_path):
    """An epoch append leaves base's file set bit-identical for BOTH
    parts."""
    from bgg_data_warehouse_spark.log_store import init_pair_store

    root = str(tmp_path / "tables")
    init_pair_store(
        root,
        "nbr",
        {
            "vectors": spark.createDataFrame(VEC_BASE, VEC_SCHEMA),
            "neighbors": spark.createDataFrame(NBR_BASE, NBR_SCHEMA),
        },
    )
    base_dir = _base_path(_store_path(root, "nbr"))

    def snapshot(d):
        out = {}
        for dirpath, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(base_dir)
    assert {os.path.relpath(p, base_dir).split(os.sep)[0] for p in before} == set(
        PAIR_KEYS
    )
    for epoch in PAIR_EPOCHS:
        _pair_append(spark, root, epoch)
    assert snapshot(base_dir) == before
    assert len(_delta_dirs(_store_path(root, "nbr"), committed=True)) == 2


def test_pair_torn_generation_invisible_to_both_parts(spark, tmp_path):
    """A crash mid-append (no commit marker) must hide the generation
    from BOTH parts — the pair-atomicity contract in log form."""
    root = str(tmp_path / "tables")
    _pair_store(spark, root)
    # tear: a newer generation that would delete vector 1 and rewrite
    # query 3's neighbours, with its commit marker gone
    gen = _pair_append(spark, root, ([], [1], [(3, 1, 0.7, 1)], [1]))
    torn = os.path.join(_store_path(root, "nbr"), gen)
    os.remove(os.path.join(torn, "_COMMITTED"))
    assert _pair_read(spark, root) == PAIR_FINAL
    recover_log_store(root, "nbr")
    assert not os.path.isdir(torn)


def test_pair_append_with_mismatched_parts_raises(spark, tmp_path):
    """r13 VERDICT #6: a generation must carry exactly the store's part
    set — a subset (or superset) append raises BEFORE anything commits,
    so a part-absent generation can never exist to break that part's
    reads with a raw missing-path error."""
    import pytest

    from bgg_data_warehouse_spark.log_store import (
        append_pair_delta,
        init_pair_store,
        read_pair_store,
    )

    root = str(tmp_path)
    init_pair_store(
        root,
        "pair",
        {"left": _df(spark, BASE_ROWS), "right": _df(spark, BASE_ROWS)},
    )
    with pytest.raises(ValueError, match="part set"):
        append_pair_delta(
            root,
            "pair",
            {"left": (_df(spark, [(9, "n", 1)]), None, "doc")},
        )
    with pytest.raises(ValueError, match="part set"):
        append_pair_delta(
            root,
            "pair",
            {
                "left": (_df(spark, [(9, "n", 1)]), None, "doc"),
                "right": (_df(spark, [(9, "n", 1)]), None, "doc"),
                "extra": (_df(spark, [(9, "n", 1)]), None, "doc"),
            },
        )
    # nothing committed: both parts still read as pure base
    assert _contents(read_pair_store(spark, root, "pair", "left", "doc")) == set(
        BASE_ROWS
    )
    store = _store_path(root, "pair")
    assert _delta_dirs(store, committed=True) == []
    # a matching append still works
    append_pair_delta(
        root,
        "pair",
        {
            "left": (_df(spark, [(9, "n", 1)]), None, "doc"),
            "right": (_df(spark, [(8, "m", 1)]), None, "doc"),
        },
    )
    assert (9, "n", 1) in _contents(
        read_pair_store(spark, root, "pair", "left", "doc")
    )


def test_term_filter_pushes_into_generational_scans(
    spark, tmp_path, monkeypatch
):
    """Serving pin: a term predicate on the generational read pushes
    down into the base AND generation scans (the merge joins key on
    doc/_gen, so a tok filter commutes through them) — a term lookup
    over an uncompacted store reads posting-list-sized data, never
    store-sized. Pins the DISTRIBUTED merge (the shape any
    over-driver-bound generation set takes — where pushdown carries
    the scale property); the r16 driver-merge fast path replaces the
    generation scans with an in-memory relation only under its 8 MiB
    bound, where the base-scan pushdown (asserted below for that path
    too) is the only one that touches real files."""
    root = str(tmp_path)
    _store(spark, root)
    monkeypatch.setattr(log_store, "DRIVER_MERGE", False)
    df = read_log_store(spark, root, "idx", "doc").where(F.col("tok") == "x")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every parquet scan of rows data carries the pushed tok filter
    # (base + at least one generation; the semi branch appends its join
    # key's IsNotNull, so match the prefix)
    assert plan.count("PushedFilters: [IsNotNull(tok), EqualTo(tok,x)") >= 2, (
        plan[:3000]
    )
    assert {(r.doc, r.tok, r.tf) for r in df.collect()} == {(1, "x", 9)}
    # driver-merge path: identical contents, and the BASE scan still
    # carries the pushed filter (the generation side is driver-held)
    monkeypatch.setattr(log_store, "DRIVER_MERGE", True)
    df_fast = read_log_store(spark, root, "idx", "doc").where(
        F.col("tok") == "x"
    )
    plan_fast = df_fast._jdf.queryExecution().executedPlan().toString()
    # the tok equality reaches the base scan's PushedFilters (alongside
    # the NOT-IN touched-key exit)
    assert any(
        "PushedFilters" in ln and "EqualTo(tok,x)" in ln
        for ln in plan_fast.splitlines()
    ), plan_fast[:3000]
    assert {(r.doc, r.tok, r.tf) for r in df_fast.collect()} == {(1, "x", 9)}


def test_compaction_layout_hook_clusters_base(spark, tmp_path):
    """compact_log_store(layout=...) reinstates scan-prune layout at the
    one moment base is rewritten anyway (the OPTIMIZE...ZORDER
    discipline): after a range layout on the key, the compacted base's
    parquet files carry DISJOINT key ranges (file-level pruning works
    again) and the contents are unchanged."""
    import pyarrow.parquet as pq

    root = str(tmp_path)
    want = _store(spark, root)  # base + 2 generations

    def layout(df):
        return df.repartitionByRange(2, "doc").sortWithinPartitions("doc")

    assert compact_log_store(spark, root, "idx", "doc", layout=layout) == 2
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    base = _base_path(_store_path(root, "idx"))
    ranges = []
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            col = [
                md.row_group(0).column(i)
                for i in range(md.row_group(0).num_columns)
                if md.row_group(0).column(i).path_in_schema == "doc"
            ][0]
            ranges.append((col.statistics.min, col.statistics.max))
    assert len(ranges) == 2
    ranges.sort()
    assert ranges[0][1] < ranges[1][0], ranges  # disjoint key ranges


def test_pair_compaction_layouts_per_part(spark, tmp_path):
    """compact_pair_store(layouts=...) applies a per-part layout inside
    the ONE staged swap; untouched parts keep default layout and both
    parts read back identical contents."""
    from bgg_data_warehouse_spark.log_store import (
        append_pair_delta,
        compact_pair_store,
        init_pair_store,
        read_pair_store,
    )

    root = str(tmp_path)
    init_pair_store(
        root,
        "pair",
        {"left": _df(spark, BASE_ROWS), "right": _df(spark, BASE_ROWS)},
    )
    append_pair_delta(
        root,
        "pair",
        {
            "left": (_df(spark, [(9, "n", 1)]), None, "doc"),
            "right": (_df(spark, [(8, "m", 1)]), _keys(spark, [1]), "doc"),
        },
    )
    want_left = set(BASE_ROWS) | {(9, "n", 1)}
    want_right = (set(BASE_ROWS) - {(1, "a", 1), (1, "b", 2)}) | {(8, "m", 1)}
    folded = compact_pair_store(
        spark, root, "pair", {"left": "doc", "right": "doc"},
        layouts={"left": lambda df: df.coalesce(1).sortWithinPartitions("doc")},
    )
    assert folded == 1
    assert _contents(read_pair_store(spark, root, "pair", "left", "doc")) == want_left
    assert _contents(read_pair_store(spark, root, "pair", "right", "doc")) == want_right


def test_log_store_matches_replace_by_key_model_random_histories(spark, tmp_path):
    """Property: an ARBITRARY history of epochs (per-epoch re-ingest
    map + tombstone set, with overlaps, re-creates, same-epoch
    conflicts) read through the store equals a driver-side
    replace-by-key dict model — with compactions injected at arbitrary
    points, which must never change the answer."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    epoch = st.tuples(
        st.dictionaries(  # key -> row count for the re-ingest
            st.integers(0, 9), st.integers(1, 3), max_size=4
        ),
        st.sets(st.integers(0, 9), max_size=3),  # tombstoned keys
        st.booleans(),  # compact after this epoch?
    )

    @given(
        base=st.dictionaries(st.integers(0, 9), st.integers(1, 3), max_size=5),
        history=st.lists(epoch, min_size=1, max_size=4),
    )
    @settings(
        max_examples=6,  # r16: Spark-job-bound examples (see
        # test_properties.SETTINGS_HEAVY rationale) — the property,
        # strategies and model are unchanged
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(base, history):
        import shutil
        import uuid

        root = os.path.join(str(tmp_path), uuid.uuid4().hex[:8])
        shutil.rmtree(root, ignore_errors=True)

        def rows_of(d):
            return [
                (k, f"t{j}", j + 1) for k, n in d.items() for j in range(n)
            ]

        model = {k: rows_of({k: n}) for k, n in base.items()}
        init_log_store(_df(spark, rows_of(base)), root, "p")
        for upserts, tombs, do_compact in history:
            append_log_delta(
                root, "p", _df(spark, rows_of(upserts)), "doc",
                tombstones=_keys(spark, sorted(tombs)),
            )
            for k, n in upserts.items():
                if k in tombs:  # deletion wins within a generation
                    model.pop(k, None)
                else:
                    model[k] = rows_of({k: n})
            for k in tombs - set(upserts):
                model.pop(k, None)
            if do_compact:
                compact_log_store(spark, root, "p", "doc")
            want = {t for rows in model.values() for t in rows}
            assert _contents(read_log_store(spark, root, "p", "doc")) == want
        shutil.rmtree(root, ignore_errors=True)

    run()


def test_read_recovery_is_restore_only(spark, tmp_path):
    """ADVICE r14: read-path recovery never deletes the writer's
    staging/backup siblings (a reader racing the single writer's
    compaction could rmtree its in-progress staging dir mid-build); a
    missing base is healed by the single newest-backup rename, and a
    rename the writer already won is tolerated as success."""
    root = str(tmp_path)
    want = _store(spark, root)
    store = _store_path(root, "idx")
    base = _base_path(store)
    # writer mid-compaction: in-progress staging next to a LIVE base
    stage = base + "__stage_deadbeef"
    os.makedirs(stage)
    recover_log_store(root, "idx", reap_torn=False)
    assert os.path.isdir(stage)  # read left the writer's staging alone
    # crash between the swap's two renames: base lives only in a backup
    backup = base + f"__old_{10**19}_abc123"
    os.rename(base, backup)
    assert recover_log_store(root, "idx", reap_torn=False) is True
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want
    assert os.path.isdir(stage)  # restore touched nothing else
    # writer-won race: a stray backup next to a live base is NOT
    # reaped by the read path, and the failed rename is tolerated
    os.makedirs(base + "__old_00000000000000000001_aaaaaa")
    assert recover_log_store(root, "idx", reap_torn=False) is False
    assert os.path.isdir(base + "__old_00000000000000000001_aaaaaa")
    # the WRITE path still owns destructive cleanup of all siblings
    recover_log_store(root, "idx")
    assert not os.path.isdir(stage)
    assert not os.path.isdir(base + "__old_00000000000000000001_aaaaaa")
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


class _BoomFrame:
    """Stands in for a DataFrame whose write crashes mid-bootstrap."""

    @property
    def write(self):
        raise RuntimeError("crash mid-bootstrap")


def test_init_log_store_bootstrap_is_crash_atomic(spark, tmp_path):
    """ADVICE r14: a crash during first-epoch bootstrap leaves
    log_store_exists() False (staging never swapped in), so a
    foreachBatch replay re-bootstraps instead of wedging on a torn
    base."""
    root = str(tmp_path)
    try:
        init_log_store(_BoomFrame(), root, "idx")
        raise AssertionError("expected bootstrap crash")
    except RuntimeError:
        pass
    assert not log_store_exists(root, "idx")
    # replay re-bootstraps cleanly over the leftover staging dir
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    assert log_store_exists(root, "idx")
    assert _contents(read_log_store(spark, root, "idx", "doc")) == set(
        BASE_ROWS
    )


def test_init_pair_store_bootstrap_is_crash_atomic(spark, tmp_path):
    """Same contract for the paired store: a crash AFTER the first
    part's write but before the rest leaves no half-store behind —
    log_store_exists() stays False and the replay re-bootstraps
    (ADVICE r14: a torn labels-without-edges bootstrap would send every
    later epoch down the maintenance path into a missing-path error)."""
    from bgg_data_warehouse_spark.log_store import (
        init_pair_store,
        read_pair_store,
    )

    root = str(tmp_path)
    labels = spark.createDataFrame([(1, 1)], "node long, canonical long")
    try:
        # dict order: labels writes fine, edges crashes
        init_pair_store(root, "cc", {"labels": labels, "edges": _BoomFrame()})
        raise AssertionError("expected bootstrap crash")
    except RuntimeError:
        pass
    assert not log_store_exists(root, "cc")
    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    init_pair_store(root, "cc", {"labels": labels, "edges": edges})
    assert log_store_exists(root, "cc")
    assert [
        (r.node, r.canonical)
        for r in read_pair_store(spark, root, "cc", "labels", "node").collect()
    ] == [(1, 1)]


def test_merge_broadcast_hint_has_row_bound(spark, tmp_path, monkeypatch):
    """r14 VERDICT #7: the byte proxy inverts for tombstone-only
    generations (key-only rows compress hardest), so the hint also
    drops when footer ROW counts cross BROADCAST_TOUCHED_MAX_ROWS even
    while the byte bound passes; correctness is hint-independent."""
    import bgg_data_warehouse_spark.log_store as ls

    root = str(tmp_path)
    _store(spark, root)

    def anti_hinted(df) -> bool:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        anti = plan.split("LeftSemi")[0]
        assert "LeftAnti" in anti
        return "strategy=broadcast" in anti

    # the hint pin concerns the DISTRIBUTED merge (the r16 driver-merge
    # fast path has no join to hint)
    monkeypatch.setattr(log_store, "DRIVER_MERGE", False)
    assert anti_hinted(read_log_store(spark, root, "idx", "doc"))
    # rows over the (monkeypatched) row bound, bytes far under the
    # byte bound — exactly the tombstone-only inversion
    monkeypatch.setattr(ls, "BROADCAST_TOUCHED_MAX_ROWS", 0)
    over = read_log_store(spark, root, "idx", "doc")
    assert not anti_hinted(over)
    assert _contents(over) == _store_want()


def test_row_cotrigger_fires_compaction(spark, tmp_path, monkeypatch):
    """r14 VERDICT #7: the compaction policy folds on the same row
    co-trigger, so a tombstone-heavy store folds before its delta can
    cross the broadcast row bound in steady state."""
    import bgg_data_warehouse_spark.log_store as ls
    from bgg_data_warehouse_spark.log_store import compact_if_needed

    root = str(tmp_path)
    want = _store(spark, root)
    monkeypatch.setattr(ls, "MAX_DELTA_FRACTION", 1e9)
    monkeypatch.setattr(ls, "MAX_DELTA_BYTES", 1 << 40)
    assert compact_if_needed(spark, root, "idx", "doc") == 0
    monkeypatch.setattr(ls, "BROADCAST_TOUCHED_MAX_ROWS", 0)
    assert compact_if_needed(spark, root, "idx", "doc") == 2
    assert _contents(read_log_store(spark, root, "idx", "doc")) == want


def test_driver_merge_matches_distributed_merge(spark, tmp_path, monkeypatch):
    """r16 driver-merge fast path: under DRIVER_MERGE_MAX_BYTES the
    winner/live sets resolve on the driver (the generation side of the
    plan is an in-memory relation, no delta shuffle stages) and the
    contents are identical to the distributed merge on the same
    store."""
    root = str(tmp_path)
    want = _store(spark, root)
    fast = read_log_store(spark, root, "idx", "doc")
    assert "LogicalRDD" in fast._jdf.queryExecution().optimizedPlan().toString()
    assert _contents(fast) == want
    monkeypatch.setattr(log_store, "DRIVER_MERGE", False)
    slow = read_log_store(spark, root, "idx", "doc")
    assert (
        "LogicalRDD" not in slow._jdf.queryExecution().optimizedPlan().toString()
    )
    assert _contents(slow) == want


def test_driver_merge_guards_fall_back(spark, tmp_path, monkeypatch):
    """The fast path's guards: NULL key values and timestamp columns
    take the distributed merge (SQL null-equality and session-timezone
    semantics are the engine's, never replicated in Python), and an
    over-bound generation set falls back too."""
    import bgg_data_warehouse_spark.log_store as ls

    # null key in a generation row -> distributed path, null row kept
    # out of live_fresh by SQL join semantics
    root = str(tmp_path / "nullkey")
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    append_log_delta(
        root, "idx",
        spark.createDataFrame(
            [(None, "n", 1), (1, "x", 9)], "doc long, tok string, tf long"
        ),
        "doc",
    )
    df = read_log_store(spark, root, "idx", "doc")
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()

    # timestamp column -> distributed path
    root2 = str(tmp_path / "ts")
    ts_df = spark.sql(
        "SELECT 1L AS k, timestamp'2024-01-02 03:04:05' AS ts"
    )
    init_log_store(ts_df, root2, "tstore")
    append_log_delta(
        root2, "tstore",
        spark.sql("SELECT 2L AS k, timestamp'2024-02-02 03:04:05' AS ts"),
        "k",
    )
    df2 = read_log_store(spark, root2, "tstore", "k")
    assert (
        "LogicalRDD" not in df2._jdf.queryExecution().optimizedPlan().toString()
    )
    assert df2.count() == 2

    # over-bound -> distributed path
    monkeypatch.setattr(ls, "DRIVER_MERGE_MAX_BYTES", 0)
    root3 = str(tmp_path / "big")
    _store(spark, root3)
    df3 = read_log_store(spark, root3, "idx", "doc")
    assert (
        "LogicalRDD" not in df3._jdf.queryExecution().optimizedPlan().toString()
    )


def test_driver_merge_float_keys_keep_nan_equality(spark, tmp_path):
    """A floating-point key takes the distributed merge: Spark's joins
    and grouping treat NaN = NaN, so a newer generation's NaN-keyed row
    replaces an older one, where a driver dict of tuples would keep
    both."""
    import math

    schema = "k double, v string"
    root = str(tmp_path)
    init_log_store(
        spark.createDataFrame([(1.0, "base")], schema), root, "fstore"
    )
    for v in ("old", "new"):
        append_log_delta(
            root, "fstore",
            spark.createDataFrame([(float("nan"), v)], schema),
            "k",
        )
    df = read_log_store(spark, root, "fstore", "k")
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    got = {("nan" if math.isnan(r.k) else r.k, r.v) for r in df.collect()}
    assert got == {(1.0, "base"), ("nan", "new")}


def test_driver_merge_type_drift_falls_back(spark, tmp_path):
    """Generations that disagree on a column's arrow type take the
    distributed merge, whose union widens the type; the driver relation
    would carry the first generation's type and fail at action time."""
    root = str(tmp_path)
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    append_log_delta(root, "idx", _df(spark, [(1, "x", 9)]), "doc")
    append_log_delta(
        root, "idx",
        spark.createDataFrame([(2, "y", 2.5)], "doc long, tok string, tf double"),
        "doc",
    )
    df = read_log_store(spark, root, "idx", "doc")
    assert "LogicalRDD" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.doc, r.tok, r.tf) for r in df.collect()} == {
        (1, "x", 9.0), (2, "y", 2.5), (3, "d", 4.0), (4, "e", 1.0)
    }


def test_gen_write_file_count_tracks_delta_size(spark, tmp_path, monkeypatch):
    """r15 VERDICT #4: a delta-bounded generation writes ONE file (the
    r15 small-file fix), but past GEN_TARGET_BYTES of estimated size
    the write fans out so a backfill-scale delta encodes in parallel
    instead of serializing through one task."""
    import bgg_data_warehouse_spark.log_store as ls

    def rows_files(root, name):
        store = _store_path(root, name)
        (gen,) = _delta_dirs(store, committed=True)
        d = os.path.join(gen, "rows")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    # distributed (non-local-relation) delta under the target: 1 file
    big = spark.range(0, 20000, 1, 4).select(
        F.col("id").alias("doc"),
        F.lit("t").alias("tok"),
        F.col("id").alias("tf"),
    )
    root = str(tmp_path / "small")
    init_log_store(_df(spark, BASE_ROWS), root, "idx")
    append_log_delta(root, "idx", big, "doc")
    assert len(rows_files(root, "idx")) == 1

    # same delta with a tiny per-file target: the write fans out
    monkeypatch.setattr(ls, "GEN_TARGET_BYTES", 1024)
    root2 = str(tmp_path / "wide")
    init_log_store(_df(spark, BASE_ROWS), root2, "idx")
    append_log_delta(root2, "idx", big, "doc")
    n_wide = len(rows_files(root2, "idx"))
    assert n_wide > 1
    # contents unaffected by the layout
    got = read_log_store(spark, root2, "idx", "doc").count()
    assert got == 20000  # every base doc id is inside the range delta
