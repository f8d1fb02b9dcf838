"""connected_components / collapse_clusters — fixed cases + property test
against a driver-side union-find on random graphs."""

from __future__ import annotations

import random

import pytest

from bgg_data_warehouse_spark.operators import iterative
from bgg_data_warehouse_spark.operators.components import (
    collapse_clusters,
    connected_components,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = connected_components(df, "src", "dst")
    return {r.node: r.canonical for r in got.collect()}


def test_chain_ring_and_singleton_pair(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 round), ring 10-11-12-10,
    # isolated pair 20-21
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_min_flows_against_edge_direction(spark):
    # canonical must reach nodes only connected "upstream" of the min id
    got = _run(spark, [(5, 9), (1, 9)])
    assert got == {5: 1, 9: 1, 1: 1}


@pytest.mark.parametrize("seed", [7, 41])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _run(spark, edges) == _uf_components(edges)


def test_collapse_marks_one_kept_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id: long")
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (6, 7)], "doc_a: long, doc_b: long"
    )
    out = {r.doc: (r.canonical, r.is_kept) for r in
           collapse_clusters(docs, "doc_id", pairs).collect()}
    assert out == {
        0: (0, True), 1: (1, True), 2: (2, True), 3: (1, False),
        4: (4, True), 5: (1, False), 6: (6, True), 7: (6, False),
    }
    kept = [d for d, (_, k) in out.items() if k]
    assert sorted(kept) == [0, 1, 2, 4, 6]


def test_star_variant_matches_hash_min_on_chain_and_random(spark):
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )

    # 40-node chain: diameter 39 — the shape hash-min is slowest on and
    # large-star/small-star closes in O(log n) rounds
    chain = [(i, i + 1) for i in range(40)]
    rng = random.Random(99)
    rand = [(rng.randrange(50), rng.randrange(50)) for _ in range(35)]
    rand = [(a, b) for a, b in rand if a != b]
    for edges in (chain, rand, [(3, 3), (1, 2)]):
        df = spark.createDataFrame(edges, "src: long, dst: long")
        want = _uf_components([(a, b) for a, b in edges if a != b])
        # forest contraction + quotient star: the sorted chain drives
        # its empty-quotient fast path, the random graph a non-trivial
        # multi-root quotient
        got = {
            r.node: r.canonical
            for r in connected_components_star(df, "src", "dst").collect()
        }
        # star variant also reports self-loop-only nodes as singletons
        for n, c in want.items():
            assert got[n] == c, (edges, n)


def test_incremental_update_matches_full_recompute_both_solve_paths(spark, monkeypatch):
    """incremental_components_update == CC(base ∪ delta) on a mixed
    delta: segment-merging edges, an intra-component no-op edge, and
    edges introducing brand-new nodes — under BOTH super-graph solvers
    (driver union-find and, with iterative.DRIVER_SOLVE_MAX=0, distributed star).
    Also pins that untouched components keep their stored labels."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_update,
    )

    # base graph: chains {1-2-3}, {10-11}, {20-21-22}, singleton-ish {30,31}
    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (30, 31)],
        "src long, dst long",
    )
    labels0 = connected_components_star(base, "src", "dst")
    # delta: merge {1..3}+{10,11}; no-op inside {20..22}; new nodes 40,41
    # chained onto 22; fully-new pair 50-51
    delta = spark.createDataFrame(
        [(3, 10), (20, 22), (22, 40), (40, 41), (50, 51)],
        "src long, dst long",
    )
    full = connected_components_star(
        base.unionByName(delta), "src", "dst"
    )
    want = {(r.node, r.canonical) for r in full.collect()}
    for solve_max in (2_000_000, 0):
        monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", solve_max)
        got = {
            (r.node, r.canonical)
            for r in incremental_components_update(
                labels0, delta, "src", "dst"
            ).collect()
        }
        assert got == want, solve_max
    # untouched component {30,31} kept its stored label
    assert (31, 30) in want and (30, 30) in want


def test_incremental_delete_matches_full_recompute_and_splits(spark, monkeypatch):
    """incremental_components_delete == CC(edges ∖ deleted) on a delta
    that SPLITS a chain, isolates a node entirely, and leaves one
    component untouched — under both super-solvers (driver union-find
    and distributed star via iterative.DRIVER_SOLVE_MAX=0) and both localization
    paths (labels semi-join and component-annotated canonical_col)."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_delete,
    )
    from pyspark.sql import functions as F

    # chains: {1-2-3-4-5}, {10-11-12}, {20-21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "src long, dst long",
    )
    labels0 = connected_components_star(edges, "src", "dst")
    # delete (3,4): splits {1..5} into {1,2,3}+{4,5}; delete (10,11) and
    # (11,12): isolates 11 (and leaves 10, 12 as singletons -> dropped)
    deleted = spark.createDataFrame(
        [(3, 4), (10, 11), (11, 12)], "src long, dst long"
    )
    remaining = edges.join(deleted, ["src", "dst"], "left_anti")
    want = {
        (r.node, r.canonical)
        for r in connected_components_star(remaining, "src", "dst").collect()
    }
    assert (4, 4) in want and (5, 4) in want  # the split really happened
    assert not any(n in (10, 11, 12) for n, _ in want)  # isolated dropped
    annotated = edges.join(
        labels0.withColumnRenamed("node", "src"), "src"
    ).withColumnRenamed("canonical", "comp")
    for solve_max in (2_000_000, 0):
        monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", solve_max)
        got = {
            (r.node, r.canonical)
            for r in incremental_components_delete(
                labels0, edges, deleted, "src", "dst",
            ).collect()
        }
        assert got == want, solve_max
        got_ann = {
            (r.node, r.canonical)
            for r in incremental_components_delete(
                labels0, annotated, deleted, "src", "dst",
                canonical_col="comp",
            ).collect()
        }
        assert got_ann == want, solve_max


def test_update_delta_emits_exactly_the_change_set(spark, monkeypatch):
    """incremental_components_update_delta returns ONLY relabeled /
    new rows — applying them replace-by-key over the stored labels
    equals the full recompute, and no unchanged stored row rides along
    (the delta-sized-write guarantee the log store depends on)."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_update,
        incremental_components_update_delta,
    )

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (30, 31)],
        "src long, dst long",
    )
    labels0 = connected_components_star(base, "src", "dst")
    delta = spark.createDataFrame(
        [(3, 10), (20, 22), (22, 40), (40, 41), (50, 51)],
        "src long, dst long",
    )
    stored = {r.node: r.canonical for r in labels0.collect()}
    want = {
        (r.node, r.canonical)
        for r in incremental_components_update(
            labels0, delta, "src", "dst"
        ).collect()
    }
    for solve_max in (2_000_000, 0):
        monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", solve_max)
        changes = {
            r.node: r.canonical
            for r in incremental_components_update_delta(
                labels0, delta, "src", "dst"
            ).collect()
        }
        # replace-by-key application reproduces the full labeling
        applied = dict(stored)
        applied.update(changes)
        assert set(applied.items()) == want, solve_max
        # minimality: every emitted row is genuinely new or relabeled
        for node, canon in changes.items():
            assert stored.get(node) != canon, (node, canon, solve_max)
        # untouched component {30,31} is NOT in the change set
        assert 30 not in changes and 31 not in changes


def test_delete_delta_changes_and_tombstones(spark, monkeypatch):
    """incremental_components_delete_delta's (changed, tombstoned)
    applied replace-by-key + delete over the stored labels equals the
    full recompute; isolated nodes are tombstoned, untouched
    components are absent from both frames."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_delete_delta,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "src long, dst long",
    )
    labels0 = connected_components_star(edges, "src", "dst")
    deleted = spark.createDataFrame(
        [(3, 4), (10, 11), (11, 12)], "src long, dst long"
    )
    remaining = edges.join(deleted, ["src", "dst"], "left_anti")
    want = {
        (r.node, r.canonical)
        for r in connected_components_star(remaining, "src", "dst").collect()
    }
    stored = {r.node: r.canonical for r in labels0.collect()}
    for solve_max in (2_000_000, 0):
        monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", solve_max)
        changed, tombs = incremental_components_delete_delta(
            labels0, edges, deleted, "src", "dst"
        )
        ch = {r.node: r.canonical for r in changed.collect()}
        tb = {r.node for r in tombs.collect()}
        applied = dict(stored)
        applied.update(ch)
        for n in tb:
            applied.pop(n, None)
        assert set(applied.items()) == want, solve_max
        assert tb == {10, 11, 12}, solve_max  # isolated nodes tombstoned
        assert ch.keys().isdisjoint(tb)
        # untouched component {20,21} appears in neither frame
        assert 20 not in ch and 21 not in ch and 20 not in tb


def test_maintain_components_log_roundtrip(spark, tmp_path):
    """The paired log store end-to-end: add epoch + delete epoch land
    as generations (base files untouched, labels generation rows are
    change-set-sized), the generational read equals the full recompute,
    and compaction folds both parts to the same answer."""
    import os

    from bgg_data_warehouse_spark.io import (
        init_components_log,
        maintain_components_log,
    )
    from bgg_data_warehouse_spark.log_store import (
        _base_path,
        _delta_dirs,
        _store_path,
        compact_pair_store,
        read_pair_store,
    )
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "src long, dst long"
    )
    labels0 = connected_components_star(base, "src", "dst")
    init_components_log(root, "cc", labels0, base, "src", "dst")
    store = _store_path(root, "cc")
    base_files = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _d, fs in os.walk(_base_path(store))
        for f in fs
    }

    adds = spark.createDataFrame([(3, 10), (30, 31)], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", adds, "src", "dst", auto_compact=False
    )
    dels = spark.createDataFrame([(2, 3), (3, 10)], "src long, dst long")
    maintain_components_log(
        spark, root, "cc", dels, "src", "dst",
        deleted=True, auto_compact=False,
    )
    final_edges = base.unionByName(adds).join(dels, ["src", "dst"], "left_anti")
    want = {
        (r.node, r.canonical)
        for r in connected_components_star(final_edges, "src", "dst").collect()
    }
    got_gen = {
        (r.node, r.canonical)
        for r in read_pair_store(spark, root, "cc", "labels", "node").collect()
    }
    assert got_gen == want
    got_edges = {
        (r.src, r.dst)
        for r in read_pair_store(
            spark, root, "cc", "edges", ["src", "dst"]
        ).collect()
    }
    assert got_edges == {(r.src, r.dst) for r in final_edges.collect()}
    # base files bit-untouched by both epochs
    assert base_files == {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _d, fs in os.walk(_base_path(store))
        for f in fs
    }
    # labels generation rows are change-sets, not snapshots
    gens = _delta_dirs(store, committed=True)
    assert len(gens) == 2
    n_labels = labels0.count()
    for g in gens:
        n_gen = spark.read.parquet(os.path.join(g, "labels", "rows")).count()
        assert n_gen < n_labels, (g, n_gen, n_labels)
    # compaction folds to the same answer for both parts
    assert compact_pair_store(
        spark, root, "cc", {"labels": "node", "edges": ["src", "dst"]}
    ) == 2
    got_comp = {
        (r.node, r.canonical)
        for r in read_pair_store(spark, root, "cc", "labels", "node").collect()
    }
    assert got_comp == want


def test_delete_localization_broadcast_is_bounded(spark, monkeypatch):
    """ADVICE r14: the canonical_col=None delete-localization semi
    broadcasts an affected-MEMBER-sized frame, which is bounded by
    touched component populations, not delta size — so the hint is
    gated by an exact row probe (AFFECTED_BROADCAST_MAX_ROWS) and the
    semi runs unhinted above it, AQE planning from runtime sizes.
    Correctness must be identical on both sides of the bound."""
    import bgg_data_warehouse_spark.operators.components as C
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_delete,
    )

    # one big chain component {1..8} plus a bystander {20,21}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)] + [(20, 21)], "src long, dst long"
    )
    labels0 = connected_components_star(edges, "src", "dst")
    deleted = spark.createDataFrame([(4, 5)], "src long, dst long")
    want = {
        (r.node, r.canonical)
        for r in connected_components_star(
            edges.join(deleted, ["src", "dst"], "left_anti"), "src", "dst"
        ).collect()
    }
    hinted = {
        (r.node, r.canonical)
        for r in incremental_components_delete(
            labels0, edges, deleted, "src", "dst"
        ).collect()
    }
    assert hinted == want
    # 8 affected members > bound 0: the semi runs unhinted, same answer
    monkeypatch.setattr(C, "AFFECTED_BROADCAST_MAX_ROWS", 0)
    unhinted = {
        (r.node, r.canonical)
        for r in incremental_components_delete(
            labels0, edges, deleted, "src", "dst"
        ).collect()
    }
    assert unhinted == want
