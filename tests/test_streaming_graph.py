"""Edge-change epochs on the logged components store
(io.maintain_components_log over the paired labels+edges log store):
epochs landed deletions-first must equal full CC on the final edge set,
epoch replay must be a no-op (adds contract to nothing, deletes
recompute identically), and the annotated compaction layout must keep
the delete path correct while it prunes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

# (src, dst, seq, op) change images. e0 bootstraps: chain 1-2-3-4, pair
# 10-11 (one edge arrives reversed — orientation-normalized into the
# same key space)
E0 = [
    (1, 2, 1, "U"), (3, 2, 2, "U"), (3, 4, 3, "U"), (11, 10, 4, "U"),
]
# e1: split the chain, bridge 4 to the pair, open a new component
E1 = [
    (2, 3, 10, "D"), (4, 10, 11, "U"), (20, 21, 12, "U"),
]
# e2: same-epoch delete-then-re-add of (3,4) (LWW winner = U, edge
# survives); delete (10,11); re-add (2,3) (heals e1's split)
E2 = [
    (3, 4, 20, "D"), (4, 3, 21, "U"), (10, 11, 22, "D"), (2, 3, 23, "U"),
]
EPOCHS = [E0, E1, E2]


def _lww(epoch):
    """Newest op per orientation-normalized edge:
    {edge: (seq, op, edge as it arrived)}."""
    latest = {}
    for s, d, q, op in epoch:
        k = (min(s, d), max(s, d))
        if k not in latest or q > latest[k][0]:
            latest[k] = (q, op, (s, d))
    return latest


def _final_edges(epochs):
    e = set()
    for ep in epochs:
        latest = _lww(ep)
        e -= {k for k, (_, op, _) in latest.items() if op == "D"}
        e |= {k for k, (_, op, _) in latest.items() if op == "U"}
    return e


def _apply_epoch(spark, root, epoch, **kw):
    """Land one epoch the way a change-feed consumer does: the newest op
    per orientation-normalized edge wins, deletions apply before
    additions, and the first epoch bootstraps the store."""
    from bgg_data_warehouse_spark.io import (
        init_components_log,
        maintain_components_log,
    )
    from bgg_data_warehouse_spark.log_store import log_store_exists
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )

    latest = _lww(epoch)

    def edges(op):
        # as they arrived: the store normalizes orientation itself
        rows = sorted(e for _, o, e in latest.values() if o == op)
        return spark.createDataFrame(rows, "src long, dst long") if rows else None

    adds, dels = edges("U"), edges("D")
    if not log_store_exists(root, "cc"):
        labels = connected_components_star(adds, "src", "dst")
        init_components_log(root, "cc", labels, adds, "src", "dst")
        return
    if dels is not None:
        maintain_components_log(
            spark, root, "cc", dels, "src", "dst", deleted=True, **kw
        )
    if adds is not None:
        maintain_components_log(spark, root, "cc", adds, "src", "dst", **kw)


def _labels(spark, root, name):
    from bgg_data_warehouse_spark.log_store import read_pair_store

    return {
        (r.node, r.canonical)
        for r in read_pair_store(spark, root, name, "labels", "node").collect()
    }


def _edges(spark, root, name):
    from bgg_data_warehouse_spark.log_store import read_pair_store

    return {
        (r.src, r.dst)
        for r in read_pair_store(spark, root, name, "edges", ["src", "dst"])
        .select("src", "dst")
        .collect()
    }


def _want(spark, edges):
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )

    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    return {
        (r.node, r.canonical)
        for r in connected_components_star(
            df, "src", "dst", canonical_edges=True
        ).collect()
    }


def test_streaming_components_matches_full_recompute(spark, tmp_path):
    """Three epochs as generations equal full CC on the final edge set;
    reversed edges normalise into one key."""
    root = str(tmp_path / "stores")
    for epoch in EPOCHS:
        _apply_epoch(spark, root, epoch, auto_compact=False)

    final = _final_edges(EPOCHS)
    assert _labels(spark, root, "cc") == _want(spark, final)
    # spot-checks: LWW kept (3,4); (10,11) gone isolates neither (10 is
    # bridged via (4,10)), 11 drops out entirely
    assert (3, 4) in final and (10, 11) not in final
    got_nodes = {n for n, _ in _labels(spark, root, "cc")}
    assert 11 not in got_nodes and 10 in got_nodes
    # and the edges part reads back exactly the final set
    assert _edges(spark, root, "cc") == final


def test_components_epoch_replay_is_noop_and_add_replay_writes_no_labels(
    spark, tmp_path
):
    from bgg_data_warehouse_spark.log_store import _delta_dirs, _store_path

    root = str(tmp_path)
    for i in (0, 1):
        _apply_epoch(spark, root, EPOCHS[i], auto_compact=False)
    before = _labels(spark, root, "cc")
    assert before == _want(spark, _final_edges(EPOCHS[:2]))
    # replay epoch 1 (delete + add passes): labeling is unchanged, and
    # the replayed ADD generation carries zero label rows — every
    # endpoint already contracted to one canonical
    _apply_epoch(spark, root, EPOCHS[1], auto_compact=False)
    assert _labels(spark, root, "cc") == before
    gens = _delta_dirs(_store_path(root, "cc"), committed=True)
    add_gen_labels = spark.read.parquet(
        os.path.join(gens[-1], "labels", "rows")
    )
    assert add_gen_labels.count() == 0


def test_components_stream_with_compaction_every_epoch(
    spark, tmp_path, monkeypatch
):
    """auto-compacting on every epoch (MAX_GENERATIONS=0) folds the pair
    after each batch and converges to the same labeling."""
    from bgg_data_warehouse_spark import log_store
    from bgg_data_warehouse_spark.log_store import _delta_dirs, _store_path

    monkeypatch.setattr(log_store, "MAX_GENERATIONS", 0)
    root = str(tmp_path)
    for epoch in EPOCHS:
        _apply_epoch(spark, root, epoch, auto_compact=True)
    assert _labels(spark, root, "cc") == _want(spark, _final_edges(EPOCHS))
    assert _delta_dirs(_store_path(root, "cc"), committed=True) == []


def _canon_edges(rows):
    return {(min(a, b), max(a, b)) for a, b in rows}


def test_annotated_compaction_prunes_and_stays_correct(spark, tmp_path):
    """r14 VERDICT #4: compacting with components_log_layouts stamps
    the edges base with the folded labeling (_comp) and range-clusters
    both parts; the NEXT delete epoch on the folded store runs the
    canonical_col prune path and must match a full recompute. A second
    delete epoch (generations now present — annotations no longer
    trusted) must fall back and STILL match."""
    from bgg_data_warehouse_spark.io import (
        compact_components_log,
        init_components_log,
        maintain_components_log,
    )
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )
    root = str(tmp_path)
    # chains {1-2-3-4-5}, {10-11-12}, {20-21}
    edges0 = [(i, i + 1) for i in range(1, 5)] + [
        (10, 11), (11, 12), (20, 21)
    ]
    e0 = spark.createDataFrame(edges0, "src long, dst long")
    init_components_log(
        root, "cc",
        connected_components_star(e0, "src", "dst", canonical_edges=True),
        e0, "src", "dst",
    )
    # one add epoch, then fold WITH annotation
    add = spark.createDataFrame([(5, 10, )], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", add, "src", "dst", auto_compact=False
    )
    assert compact_components_log(spark, root, "cc", "src", "dst") >= 1
    # base now annotated
    base_edges = spark.read.parquet(os.path.join(root, "cc", "base", "edges"))
    assert "_comp" in base_edges.columns
    cur = _canon_edges(edges0 + [(5, 10)])
    assert _edges(spark, root, "cc") == cur
    # delete on the FOLDED store: the pruned canonical_col path
    d1 = spark.createDataFrame([(3, 4)], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", d1, "src", "dst", deleted=True, auto_compact=False
    )
    cur -= {(3, 4)}
    assert _labels(spark, root, "cc") == _want(spark, cur)
    # delete with a generation present: fallback path, same contract
    d2 = spark.createDataFrame([(11, 12)], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", d2, "src", "dst", deleted=True, auto_compact=False
    )
    cur -= {(11, 12)}
    assert _labels(spark, root, "cc") == _want(spark, cur)
    # fold again (annotation refreshes over the stale base stamp) and
    # verify the edge set and labels both survive the second fold
    assert compact_components_log(spark, root, "cc", "src", "dst") >= 1
    assert _labels(spark, root, "cc") == _want(spark, cur)
    assert _edges(spark, root, "cc") == cur


def test_annotated_scan_prune_reaches_parquet(spark, tmp_path):
    """Plan pin for the prune mechanism: a literal _comp IN-filter on
    the annotated, range-clustered edges base is PUSHED to the parquet
    scan (row-group stats prune unaffected components' files)."""
    from bgg_data_warehouse_spark.io import (
        compact_components_log,
        init_components_log,
        maintain_components_log,
    )
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )

    root = str(tmp_path)
    edges0 = [(i * 10, i * 10 + 1) for i in range(1, 40)]
    e0 = spark.createDataFrame(edges0, "src long, dst long")
    init_components_log(
        root, "cc",
        connected_components_star(e0, "src", "dst", canonical_edges=True),
        e0, "src", "dst",
    )
    add = spark.createDataFrame([(401, 402)], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", add, "src", "dst", auto_compact=False
    )
    compact_components_log(spark, root, "cc", "src", "dst")
    base = spark.read.parquet(os.path.join(root, "cc", "base", "edges"))
    plan = (
        base.where(F.col("_comp").isin([10, 20]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(_comp" in plan
