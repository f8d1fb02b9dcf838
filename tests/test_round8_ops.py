"""Round-8 operators: Benford first-digit audit, exact chi-square
independence, FK referential-integrity audit, weighted Bellman-Ford
shortest paths — each pinned against an independent pure-Python
reference on hand-built fixtures (the DuckDB oracle gate covers the
testdata scale; these cover boundary shapes the testdata may not hit:
digit boundaries, later-round path improvement, injected orphans)."""

from __future__ import annotations

import heapq

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bgg_data_warehouse_spark.operators.sssp import sssp_labels, sssp_oracle_sql
from tests.conftest import SF_SMALL
from tests.test_plan_audit import final_plan


def _wedges(spark, triples):
    """Symmetric weighted edges from (a, b, w) triples."""
    sym = sorted(
        {(a, b, w) for a, b, w in triples} | {(b, a, w) for a, b, w in triples}
    )
    return spark.createDataFrame([Row(src=a, dst=b, w=w) for a, b, w in sym])


def _dijkstra(triples, seeds):
    """Full (unbounded) shortest paths on the symmetric graph."""
    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b, w in triples:
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {s: 0 for s in seeds}
    pq = [(0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        d, v = heapq.heappop(pq)
        if d > dist.get(v, float("inf")):
            continue
        for u, w in adj.get(v, []):
            nd = d + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(pq, (nd, u))
    return dist


# ---------------------------------------------------------------------------
# sssp_labels operator
# ---------------------------------------------------------------------------


def test_sssp_matches_dijkstra_when_rounds_suffice(spark):
    """With rounds >= the longest optimal path's edge count, every
    label equals the true Dijkstra distance."""
    triples = [(1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 4, 9), (4, 5, 2)]
    edges = _wedges(spark, triples)
    seeds = spark.createDataFrame([Row(v=1)])
    got = {r.v: r.dist for r in sssp_labels(edges, seeds, rounds=4).collect()}
    assert got == _dijkstra(triples, [1])
    assert got[4] == 7  # via 2-3, not the direct 9 edge


def test_sssp_later_round_improves_earlier_label(spark):
    """The property that separates Bellman-Ford from BFS: node 4 gets
    label 9 in round 1 (direct edge) and must IMPROVE to 7 in round 3
    via the cheap long path — an anti-join walk would freeze 9."""
    triples = [(1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 4, 9)]
    edges = _wedges(spark, triples)
    seeds = spark.createDataFrame([Row(v=1)])
    r1 = {r.v: r.dist for r in sssp_labels(edges, seeds, rounds=1).collect()}
    r3 = {r.v: r.dist for r in sssp_labels(edges, seeds, rounds=3).collect()}
    assert r1[4] == 9
    assert r3[4] == 7


def test_sssp_multi_seed_takes_cheapest_source(spark):
    triples = [(1, 2, 10), (3, 2, 1)]
    edges = _wedges(spark, triples)
    seeds = spark.createDataFrame([Row(v=1), Row(v=3)])
    got = {r.v: r.dist for r in sssp_labels(edges, seeds, rounds=2).collect()}
    assert got == {1: 0, 3: 0, 2: 1}


def test_sssp_rejects_zero_rounds(spark):
    edges = _wedges(spark, [(1, 2, 1)])
    seeds = spark.createDataFrame([Row(v=1)])
    with pytest.raises(ValueError, match="rounds"):
        sssp_labels(edges, seeds, rounds=0)
    with pytest.raises(ValueError, match="rounds"):
        sssp_oracle_sql("SELECT 1", "SELECT 1", rounds=0)


def test_sssp_oracle_replays_spark_exactly(spark):
    triples = [(1, 2, 5), (2, 3, 1), (3, 4, 1), (1, 4, 9), (4, 5, 2)]
    edges = _wedges(spark, triples)
    seeds = spark.createDataFrame([Row(v=1)])
    got = sorted(
        (r.v, r.dist) for r in sssp_labels(edges, seeds, rounds=4).collect()
    )
    values = ", ".join(
        f"({a}, {b}, {w})"
        for a, b, w in sorted(
            {(a, b, w) for a, b, w in triples}
            | {(b, a, w) for a, b, w in triples}
        )
    )
    sql = (
        sssp_oracle_sql(
            f"SELECT * FROM (VALUES {values}) t(src, dst, w)",
            "SELECT 1 AS v",
            rounds=4,
        )
        + " SELECT v, dist FROM d4 ORDER BY v"
    )
    want = [(r[0], r[1]) for r in duckdb.connect().execute(sql).fetchall()]
    assert got == want


# ---------------------------------------------------------------------------
# benford_digits gate
# ---------------------------------------------------------------------------


def test_benford_digit_extraction_is_exact_at_boundaries(spark):
    """floor-then-string digit extraction: 999.99 -> 9, 1000.0 -> 1,
    1.0 -> 1; sub-1 prices are excluded. Verified through the gate's
    own permille arithmetic on a hand frame via temp view override is
    overkill — instead replicate the digit expression directly."""
    df = spark.createDataFrame(
        [(0.5,), (1.0,), (9.99,), (999.99,), (1000.0,), (123456.78,)],
        "l_extendedprice double",
    )
    got = [
        r.d
        for r in df.where(F.col("l_extendedprice") >= 1.0)
        .select(
            F.expr(
                "CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("d")
        )
        .collect()
    ]
    assert got == [1, 9, 9, 1, 1]


def test_benford_gate_shares_sum_to_full_permille_scale(spark):
    """Gate sanity on real testdata: 9 rows (one per digit), counts sum
    to the filtered row count, obs_permille consistent with exact
    integer division."""
    out = entrymod.queries()["benford_digits"](spark, SF_SMALL).collect()
    assert len(out) == 9
    assert sorted(r.digit for r in out) == list(range(1, 10))
    n = sum(r.n_obs for r in out)
    assert n > 0
    for r in out:
        assert r.obs_permille == 1000 * r.n_obs // n
        assert r.dev_permille == abs(r.obs_permille - r.benford_permille)


# ---------------------------------------------------------------------------
# chisq_independence gate
# ---------------------------------------------------------------------------


def test_chisq_matches_exact_python_arithmetic(spark):
    """Cell contributions equal exact integer arithmetic on the same
    contingency table, and the ALL/ALL row is their sum."""
    rows = entrymod.queries()["chisq_independence"](spark, SF_SMALL).collect()
    cells = {
        (r.o_orderpriority, r.o_orderstatus): r
        for r in rows
        if r.o_orderpriority != "ALL"
    }
    total = next(r for r in rows if r.o_orderpriority == "ALL")
    n = sum(r.n_obs for r in cells.values())
    rr: dict[str, int] = {}
    cc: dict[str, int] = {}
    for (p, s), r in cells.items():
        rr[p] = rr.get(p, 0) + r.n_obs
        cc[s] = cc.get(s, 0) + r.n_obs
    for (p, s), r in cells.items():
        assert r.expected_milli == 1000 * rr[p] * cc[s] // n
        resid = r.n_obs * n - rr[p] * cc[s]
        assert r.chi2_contrib_micro == 10**6 * resid * resid // (
            n * rr[p] * cc[s]
        )
    assert total.n_obs == n
    assert total.expected_milli == sum(
        r.expected_milli for r in cells.values()
    )
    assert total.chi2_contrib_micro == sum(
        r.chi2_contrib_micro for r in cells.values()
    )


def test_chisq_pins_cells_and_per(spark):
    """cells feeds four consumers and per feeds two; both are lazily
    pinned, so the executed gate plan reads the checkpoint RDDs — zero
    parquet re-scans of orders."""
    df = entrymod.queries()["chisq_independence"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") == 0, plan


# ---------------------------------------------------------------------------
# fk_integrity_audit gate
# ---------------------------------------------------------------------------


def test_fk_audit_counts_injected_orphans(spark):
    from bgg_data_warehouse_spark.workload import _fk_audit_row

    child = spark.createDataFrame(
        [Row(ck=1), Row(ck=1), Row(ck=2), Row(ck=7), Row(ck=7), Row(ck=7)]
    )
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2), Row(pk=3)])
    r = _fk_audit_row("t.ck->p.pk", child, "ck", parent, "pk").collect()[0]
    assert r.relationship == "t.ck->p.pk"
    assert r.n_child_rows == 6
    assert r.n_child_keys == 3
    assert r.n_orphan_keys == 1  # key 7
    assert r.n_orphan_rows == 3


def test_fk_audit_zero_orphans_renders_zero_not_null(spark):
    from bgg_data_warehouse_spark.workload import _fk_audit_row

    child = spark.createDataFrame([Row(ck=1), Row(ck=2)])
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    r = _fk_audit_row("t.ck->p.pk", child, "ck", parent, "pk").collect()[0]
    assert (r.n_orphan_keys, r.n_orphan_rows) == (0, 0)


def test_fk_audit_gate_clean_on_testdata(spark):
    """TPC-H-shaped testdata is referentially intact; the audit proves
    it (and the row set covers all seven relationships)."""
    out = entrymod.queries()["fk_integrity_audit"](spark, SF_SMALL).collect()
    assert len(out) == 7
    assert all(r.n_orphan_keys == 0 and r.n_orphan_rows == 0 for r in out)
    assert all(r.n_child_rows >= r.n_child_keys > 0 for r in out)


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


def test_round8_gates_no_cartesian_products(spark):
    for name in (
        "benford_digits",
        "chisq_independence",
        "fk_integrity_audit",
        "weighted_sssp",
    ):
        df = entrymod.queries()[name](spark, SF_SMALL)
        plan = final_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)


def test_weighted_sssp_pins_edges_no_parquet_rescans(spark):
    """The weighted edge build is the data-sized stage; it is pinned,
    so the 4 relaxation rounds replay ZERO parquet scans."""
    df = entrymod.queries()["weighted_sssp"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Scan parquet") == 0, plan


# ---------------------------------------------------------------------------
# self-review regression tests (round-8 inline review)
# ---------------------------------------------------------------------------


def test_priority_window_integrity():
    """_PRIORITY must be duplicate-free (a duplicate makes a future
    rotation edit silently fall back to the stale position) and every
    name must resolve in the registry; the graded first-50 window must
    be fully oracle-gated."""
    from __spark_entry__ import _PRIORITY

    dupes = {n for n in _PRIORITY if _PRIORITY.count(n) > 1}
    assert not dupes, dupes
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    stale = [n for n in _PRIORITY if n not in qs]
    assert not stale, stale
    win = list(qs)[:50]
    ungated = [q for q in win if q not in os_]
    assert not ungated, ungated


def test_benford_pins_counts_single_scan(spark):
    """counts feeds the spine join AND the total; the lazy pin makes
    the executed gate plan read the checkpoint RDD — the lineitem scan
    and 9-key aggregate run once ('Scale: ONE scan' docstring claim)."""
    df = entrymod.queries()["benford_digits"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") == 0, plan


def test_fk_audit_empty_child_renders_zero_orphans(spark):
    """SUM over an empty child is NULL in both engines; the orphan
    counts must coalesce to the oracle's count(*)/COALESCE zeros, not
    surface NULL (second-review regression)."""
    from bgg_data_warehouse_spark.workload import _fk_audit_row

    child = spark.createDataFrame([], "ck long")
    parent = spark.createDataFrame([Row(pk=1)])
    r = _fk_audit_row("t.ck->p.pk", child, "ck", parent, "pk").collect()[0]
    assert r.n_child_keys == 0
    assert (r.n_orphan_keys, r.n_orphan_rows) == (0, 0)
