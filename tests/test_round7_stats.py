"""Round-7 session-4 operators: two-sample statistics spine (KS /
Mann-Whitney), prefix-filter set-similarity join, out-of-fold target
encoding, decision stump, Gini concentration — each pinned against an
independent pure-Python reference on hand-built fixtures (the DuckDB
oracle gate covers the testdata scale; these cover the edge shapes the
testdata may not hit: ties at boundaries, exact-threshold Jaccard,
degenerate folds)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tests.test_plan_audit import final_plan  # one shared plan extractor


# ---------------------------------------------------------------------------
# two_sample_cum_counts spine
# ---------------------------------------------------------------------------


def test_two_sample_cum_counts_matches_naive(spark):
    """Cumulative counts per distinct value equal the brute-force
    Python ECDF counts, including values present in only one sample
    and multi-way ties."""
    from bgg_data_warehouse_spark.operators.stats_tests import (
        two_sample_cum_counts,
    )

    a = [1.0, 1.0, 2.5, 2.5, 2.5, 7.0, 9.0]
    b = [0.5, 2.5, 2.5, 3.0, 7.0, 7.0, 7.0, 11.0]
    rows = [(v, 1, 0) for v in a] + [(v, 0, 1) for v in b]
    df = spark.createDataFrame(rows, "value double, ia long, ib long")
    out = {
        r["value"]: r
        for r in two_sample_cum_counts(
            df, "value", F.col("ia"), F.col("ib"), F.floor("value")
        ).collect()
    }
    values = sorted(set(a) | set(b))
    assert set(out) == set(values)
    for v in values:
        assert out[v]["ca0"] == a.count(v)
        assert out[v]["cb0"] == b.count(v)
        assert out[v]["ca"] == sum(1 for x in a if x <= v)
        assert out[v]["cb"] == sum(1 for x in b if x <= v)


def _naive_ks(a: list[float], b: list[float]) -> tuple[int, int]:
    na, nb = len(a), len(b)
    d = 0
    for v in sorted(set(a) | set(b)):
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        d = max(d, abs(ca * nb - cb * na))
    return d, na * nb


def _naive_u2(a: list[float], b: list[float]) -> int:
    u2 = 0
    for x in a:
        for y in b:
            if y < x:
                u2 += 2
            elif y == x:
                u2 += 1
    return u2


def test_ks_and_mwu_gates_match_naive_python(spark):
    """The gate outputs at sf0.001 equal a from-scratch O(n^2) / full
    materialization Python computation of D and 2U on the same rows —
    independent of both the Spark rewrite AND the DuckDB oracle."""
    ev = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in ev:
        if r["value"] is not None:
            by_type.setdefault(r["event_type"], []).append(r["value"])

    ks = entrymod.queries()["ks_two_sample"](spark, SF_SMALL).collect()[0]
    d_num, d_den = _naive_ks(by_type["click"], by_type["view"])
    assert ks["d_num"] == d_num
    assert ks["d_den"] == d_den
    assert ks["d_permyriad"] == 10000 * d_num // d_den

    mwu = entrymod.queries()["mannwhitney_u"](spark, SF_SMALL).collect()[0]
    a, b = by_type["purchase"], by_type["error"]
    u2 = _naive_u2(a, b)
    assert mwu["u2_a"] == u2
    assert mwu["u2_b"] == 2 * len(a) * len(b) - u2
    pooled = a + b
    tie = sum(
        t**3 - t
        for t in (pooled.count(v) for v in set(pooled))
    )
    assert mwu["tie_term"] == tie


def test_mwu_z_score_sign_and_symmetry(spark):
    """z flips sign when the samples swap roles: build both orderings
    from a fixture via the same shared expression path."""
    from bgg_data_warehouse_spark.workload import _MWU_Z

    rows = [("a", float(v)) for v in [1, 2, 2, 3, 9]] + [
        ("b", float(v)) for v in [4, 5, 5, 6, 7, 8]
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    df.createOrReplaceTempView("mwu_fix")

    def z_for(first: str, second: str) -> tuple[int, int]:
        agg = spark.sql(
            f"""
            WITH g AS (
              SELECT value,
                     SUM(CASE WHEN g = '{first}' THEN 1 ELSE 0 END) AS ca0,
                     SUM(CASE WHEN g = '{second}' THEN 1 ELSE 0 END) AS cb0
              FROM mwu_fix GROUP BY 1),
            r AS (SELECT value, ca0, cb0,
                         SUM(ca0) OVER (ORDER BY value) AS ca,
                         SUM(cb0) OVER (ORDER BY value) AS cb FROM g)
            SELECT CAST(MAX(ca) AS BIGINT) AS n_a,
                   CAST(MAX(cb) AS BIGINT) AS n_b,
                   CAST(SUM(ca0 * (2 * (cb - cb0) + cb0)) AS BIGINT) AS u2_a,
                   CAST(SUM((ca0+cb0)*(ca0+cb0)*(ca0+cb0) - (ca0+cb0))
                        AS BIGINT) AS tie_term
            FROM r
            """
        )
        row = agg.selectExpr("u2_a", _MWU_Z).collect()[0]
        return row["u2_a"], row["z_x1e6"]

    u_ab, z_ab = z_for("a", "b")
    u_ba, z_ba = z_for("b", "a")
    assert u_ab + u_ba == 2 * 5 * 6
    assert z_ab == -z_ba
    # 'a' values are mostly below 'b' → U_a below its mean → negative z
    assert z_ab < 0


# ---------------------------------------------------------------------------
# prefix-filter set-similarity join
# ---------------------------------------------------------------------------


def _naive_jaccard_pairs(sets: dict[int, set], tau: float):
    out = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        uni = len(sets[i] | sets[j])
        if uni and inter / uni >= tau:
            out[(i, j)] = (inter, uni)
    return out


def test_ppjoin_equals_naive_all_pairs_with_boundary_ties(spark):
    """Exact recall on a fixture with: an exactly-at-threshold pair
    (J == 0.5 must be KEPT), a just-below pair, identical twins
    (J == 1), a size-filtered pair, and docs sharing only frequent
    tokens (prefix pruning must not lose them if J >= tau)."""
    from bgg_data_warehouse_spark.operators.ppjoin import (
        jaccard_similarity_join,
    )

    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},      # J(1,2) = 3/5 ≥ .5 keep
        3: {"a", "b", "x", "y"},      # J(1,3) = 2/6 = .33 drop
        4: {"a", "b", "c", "d"},      # twin of 1, J = 1
        5: {"p", "q"},
        6: {"p", "q", "r", "s"},      # J(5,6) = 2/4 = .5 boundary keep
        7: {"a"},                      # tiny vs 1: size filter drops
        8: {"m", "n", "o"},
        9: {"m", "n", "z"},           # J = 2/4 = .5 boundary keep
    }
    rows = [(i, t) for i, s in sets.items() for t in s]
    tok = spark.createDataFrame(rows, "doc long, tok string")
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["uni"], r["jac_permille"])
        for r in jaccard_similarity_join(
            tok, "doc", "tok", tau_permille=500
        ).collect()
    }
    want = _naive_jaccard_pairs(sets, 0.5)
    assert set(got) == set(want)
    for pair, (inter, uni) in want.items():
        assert got[pair][0] == inter
        assert got[pair][1] == uni
        assert got[pair][2] == 1000 * inter // uni
    assert (5, 6) in got and got[(5, 6)][2] == 500
    assert (1, 4) in got and got[(1, 4)][2] == 1000


def test_ppjoin_higher_tau_and_validation(spark):
    """tau sweep stays exact (0.8 keeps only the twins) and reserved /
    out-of-range arguments raise."""
    from bgg_data_warehouse_spark.operators.ppjoin import (
        jaccard_similarity_join,
    )

    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},
        4: {"a", "b", "c", "d"},
    }
    rows = [(i, t) for i, s in sets.items() for t in s]
    tok = spark.createDataFrame(rows, "doc long, tok string")
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_similarity_join(
            tok, "doc", "tok", tau_permille=800
        ).collect()
    }
    assert got == {(1, 4)}
    with pytest.raises(ValueError, match="tau_permille"):
        jaccard_similarity_join(tok, "doc", "tok", tau_permille=0)
    bad = tok.withColumn("_sz", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        jaccard_similarity_join(bad, "doc", "tok")


def test_ppjoin_candidate_join_is_equi_join_no_nested_loop(spark):
    """The candidate and verification joins must plan as hash/sort
    equi-joins on shingle and doc id — never a nested-loop pair scan —
    and nothing data-sized crosses a single partition (the rank's
    |buckets|-row offset window sits behind the pinned prefix relation,
    so at most that one bounded single-partition exchange may surface)."""
    df = entrymod.queries()["set_similarity_join"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


# ---------------------------------------------------------------------------
# out-of-fold target encoding
# ---------------------------------------------------------------------------


def test_target_encode_oof_matches_pandas(spark):
    """Every (feature, level, fold) encoding equals the exclusion-mean
    computed directly in pandas from the raw parquet, and excluded
    counts recombine to the level totals."""
    from bgg_data_warehouse_spark.operators.sampling import md5_bucket

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").withColumn(
        "fold", (md5_bucket(F.col("o_orderkey")) % 5).cast("long")
    )
    pdf = o.select(
        "o_orderpriority", "o_orderstatus", "o_totalprice", "fold"
    ).toPandas()

    out = entrymod.queries()["target_encode_oof"](spark, SF_SMALL).collect()
    assert len(out) == (pdf["o_orderpriority"].nunique()
                        + pdf["o_orderstatus"].nunique()) * 5
    col = {"priority": "o_orderpriority", "status": "o_orderstatus"}
    for r in out:
        sub = pdf[pdf[col[r["feature"]]] == r["level"]]
        excl = sub[sub["fold"] != r["fold"]]
        assert r["n_excl"] == len(excl)
        # decimal(18,2) sum == python float sum of 2-dp values within 1e-6
        assert abs(r["s_excl_r2"] - round(excl["o_totalprice"].sum(), 2)) < 1e-6
        assert r["enc_r6"] == pytest.approx(
            excl["o_totalprice"].mean(), abs=2e-6
        )


def test_target_encode_oof_global_fallback_branch(spark):
    """A level confined to a single fold takes the global-mean fallback
    (n_excl = 0) — exercised via a tiny temp-view fixture run through
    the same SQL shapes as the gate."""
    from bgg_data_warehouse_spark.workload import _ENC_R6

    agg = spark.createDataFrame(
        [("priority", "RARE", 3, 2, 100.0, 100.0, 10, 400.0)],
        "feature string, level string, fold long, n_f long, "
        "s_f double, s_tot double, n_all long, s_all double",
    ).withColumn("n_tot", F.lit(2))
    row = agg.selectExpr("n_tot - n_f AS n_excl_chk", _ENC_R6).collect()[0]
    assert row["n_excl_chk"] == 0
    assert row["enc_r6"] == pytest.approx(40.0, abs=1e-9)


# ---------------------------------------------------------------------------
# decision stump
# ---------------------------------------------------------------------------


def test_decision_stump_matches_brute_force(spark):
    """Best split per feature equals an exhaustive Python scan over
    every distinct threshold, including the min-impurity tie-break on
    the smaller threshold."""
    rows = [
        # feature 'f': clean split at 2.0 (y=1 iff value > 2)
        ("A", 1.0, 0), ("A", 1.5, 0), ("A", 2.0, 0),
        ("A", 3.0, 1), ("A", 4.0, 1),
        # feature 'B': no signal — impurity flat, ties broken by value
        ("B", 1.0, 0), ("B", 1.0, 1), ("B", 2.0, 0), ("B", 2.0, 1),
    ]
    df = spark.createDataFrame(rows, "feature string, value double, y int")
    df.createOrReplaceTempView("stump_fix")
    from bgg_data_warehouse_spark.workload import _STUMP_IMP

    got = {
        r["feature"]: r
        for r in spark.sql(
            f"""
            WITH g AS (SELECT feature, value,
                              CAST(count(*) AS BIGINT) AS cnt,
                              CAST(SUM(y) AS BIGINT) AS pos
                       FROM stump_fix GROUP BY 1, 2),
            c AS (SELECT feature, value,
                         SUM(cnt) OVER (PARTITION BY feature ORDER BY value)
                           AS n_l,
                         SUM(pos) OVER (PARTITION BY feature ORDER BY value)
                           AS pos_l FROM g),
            t AS (SELECT feature, SUM(cnt) AS n, SUM(pos) AS pos_tot
                  FROM g GROUP BY 1),
            s AS (SELECT feature, value, n_l, pos_l, n, pos_tot,
                         {_STUMP_IMP}
                  FROM c JOIN t USING (feature) WHERE n_l < n),
            r AS (SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY feature ORDER BY imp_x1e9, value) AS rn
                  FROM s)
            SELECT feature, value AS threshold, imp_x1e9 FROM r WHERE rn = 1
            """
        ).collect()
    }

    def brute(feature):
        pts = [(v, y) for f, v, y in rows if f == feature]
        n = len(pts)
        best = None
        for thr in sorted({v for v, _ in pts})[:-1]:
            left = [y for v, y in pts if v <= thr]
            right = [y for v, y in pts if v > thr]
            pl, pr = sum(left), sum(right)
            imp = (
                2.0 * pl * (len(left) - pl) / len(left)
                + 2.0 * pr * (len(right) - pr) / len(right)
            ) / n
            key = (round(imp * 1e9), thr)
            if best is None or key < best:
                best = key
        return best

    for f in ("A", "B"):
        bi, bt = brute(f)
        assert got[f]["threshold"] == bt
        assert got[f]["imp_x1e9"] == bi
    assert got["A"]["threshold"] == 2.0
    assert got["A"]["imp_x1e9"] == 0
    assert got["B"]["threshold"] == 1.0  # flat impurity → smallest value


def test_decision_stump_single_scan_and_grouped_prefix(spark):
    """ONE lineitem scan feeds all three stacked features (the oracle's
    triple UNION ALL is the definition, not the plan), and the prefix
    machinery keeps single-partition exchanges to the two |buckets|-row
    offset tables."""
    df = entrymod.queries()["decision_stump"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    # the one parquet scan runs inside the pinned aggregate; downstream
    # consumers read the checkpointed RDD, never the file again
    assert plan.count("Scan parquet") <= 1, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------


def test_gini_concentration_matches_naive(spark):
    """Per-segment Gini equals the direct Lorenz formula computed in
    Python from the raw parquet (ranks by (revenue, custkey))."""
    import collections

    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    c = spark.read.parquet(f"{SF_SMALL}/customer.parquet").collect()
    seg = {r["c_custkey"]: r["c_mktsegment"] for r in c}
    rev: dict[int, float] = collections.defaultdict(float)
    for r in o:
        rev[r["o_custkey"]] += round(r["o_totalprice"], 2)
    by_seg: dict[str, list[tuple[float, int]]] = collections.defaultdict(list)
    for k, v in rev.items():
        by_seg[seg[k]].append((round(v, 2), k))

    out = {
        r["segment"]: r
        for r in entrymod.queries()["gini_concentration"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(out) == set(by_seg)
    for s, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        t = sum(v for v, _ in vals)
        ss = sum(i * v for i, (v, _) in enumerate(vals, start=1))
        g = 2.0 * ss / (n * t) - (n + 1.0) / n
        assert out[s]["n_cust"] == n
        assert out[s]["total_rev_r2"] == pytest.approx(t, abs=0.02)
        assert out[s]["gini_x1e6"] == pytest.approx(round(g * 1e6), abs=2)


def test_gini_zero_for_equal_revenues_and_known_value(spark):
    """Sanity anchors: equal revenues → G = 0; one customer owning
    everything among n=4 → G = (n-1)/n - tiny; computed through the
    same shared expression."""
    from bgg_data_warehouse_spark.workload import _GINI_X1E6

    def gini_of(revs: list[float]) -> int:
        n = len(revs)
        vals = sorted(revs)
        t = sum(vals)
        s = sum(i * v for i, v in enumerate(vals, start=1))
        df = spark.createDataFrame(
            [(n, t, s)], "n long, t double, s double"
        )
        return df.selectExpr(_GINI_X1E6).collect()[0]["gini_x1e6"]

    assert gini_of([5.0, 5.0, 5.0, 5.0]) == 0
    # degenerate concentration: G → (n-1)/n as one holder dominates
    assert gini_of([0.000001, 0.000001, 0.000001, 100.0]) == pytest.approx(
        750000, abs=5
    )


def test_gini_uses_grouped_two_pass_rank_no_bare_window(spark):
    """The rank must be the grouped bucketed two-pass row number — the
    only single-partition exchange is the per-segment offset prefix
    (segment × band rows), and the data-path window partitions on
    (segment, band)."""
    df = entrymod.queries()["gini_concentration"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "Exchange hashpartitioning(segment" in plan, plan
    assert plan.count("Exchange SinglePartition") == 0, plan


# ---------------------------------------------------------------------------
# grid-based KS + streaming drift composition
# ---------------------------------------------------------------------------


def test_two_sample_spine_windows_ride_buckets_not_a_global_sort(spark):
    """The oracle's bare ORDER BY window must never appear on the Spark
    side. The gates' summaries hide the spine behind its pin, so audit
    the spine plan itself: the running-sum window is hash-partitioned
    on the bucket key, and the only single-partition exchange is the
    |buckets|-row offset prefix — never the value stream."""
    from bgg_data_warehouse_spark.operators.stats_tests import (
        two_sample_cum_counts,
    )

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    tag = ev.select(
        "value",
        (F.col("event_type") == "click").cast("long").alias("ia"),
        (F.col("event_type") == "view").cast("long").alias("ib"),
    )
    cum = two_sample_cum_counts(
        tag, "value", F.col("ia"), F.col("ib"), F.floor("value")
    )
    cum.collect()
    plan = final_plan(cum)
    assert "Exchange hashpartitioning(_b" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_ks_and_mwu_summaries_are_broadcast_only(spark):
    """Downstream of the spine everything is 1-row/|values|-row work:
    no cartesian products or nested-loop joins in either gate's final
    plan (the cross joins must all be 1-row broadcasts)."""
    for name in ("ks_two_sample", "mannwhitney_u"):
        df = entrymod.queries()[name](spark, SF_SMALL)
        df.collect()
        plan = final_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)


def test_ks_permyriad_survives_past_int64_product(spark):
    """d_permyriad's 10000*dm product runs in DECIMAL(38,0): with 3e9
    rows per side (d_num's own documented headroom bound) the plain
    BIGINT product 10000*dm would overflow long — the round-7 ADVICE
    scenario — while the decimal path stays exact."""
    from bgg_data_warehouse_spark.operators.stats_tests import ks_statistic

    n = 3_000_000_000
    rows = [(1.0, n // 2, 0), (2.0, n, n)]
    cum = spark.createDataFrame(rows, "value double, ca long, cb long")
    got = ks_statistic(cum, "value").collect()[0]
    d_num = (n // 2) * n
    assert got["n_a"] == n and got["n_b"] == n
    assert got["d_num"] == d_num
    assert got["d_den"] == n * n
    assert got["d_permyriad"] == 10000 * d_num // (n * n) == 5000
    assert got["at_value"] == 1.0
