"""Physical-plan audits: the scale properties BASELINE.md demands, asserted
against `.explain` output rather than taken on faith.

1. point lookups push their filter into the parquet scan (PushedFilters);
2. explicit selects prune the scan schema (ReadSchema ⊂ full table);
3. the small side of the live-kNN cross join is broadcast;
4. MERGE emulation plans anti-joins, never a full-table sort/distinct;
5. oracle-checked relational queries never fall back to row-at-a-time
   Python (BatchEvalPython) — Arrow paths are allowed only where
   explicitly designed (LSH signatures, cogrouped cosine, multimodal).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from tests.conftest import SF_SMALL


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df) -> str:
    """The adaptive FINAL plan only — executedPlan().toString() prints
    both '== Final Plan ==' and '== Initial Plan ==' sections under AQE,
    which double-counts operators for count-based assertions."""
    plan = executed_plan(df)
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    return plan


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark):
    df = entrymod.queries()["point_lookup"](spark, SF_SMALL)
    plan = executed_plan(df)
    assert "PushedFilters" in plan
    # the customer-key predicate reaches the customer scan
    assert "EqualTo(c_custkey,42)" in plan.replace(" ", ""), plan[:2000]


def test_explicit_select_prunes_columns(spark):
    df = entrymod.queries()["latest_snapshot"](spark, SF_SMALL)
    plan = executed_plan(df)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l and "events" in l]
    assert scan_lines, plan[:2000]
    # props (unused JSON column) must not be read from the events scan
    assert all("props" not in l for l in scan_lines)


def test_knn_bruteforce_broadcasts_query_side(spark):
    df = entrymod.queries()["knn_bruteforce"](spark, SF_SMALL)
    plan = executed_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_merge_strategies_plan_anti_joins(spark):
    for name in ("merge_insert_missing", "delete_insert_refresh", "anti_join_pending"):
        df = entrymod.queries()[name](spark, SF_SMALL)
        assert "LeftAnti" in optimized_plan(df), name


def test_semi_scoped_agg_plans_semi_join(spark):
    df = entrymod.queries()["semi_scoped_agg"](spark, SF_SMALL)
    assert "LeftSemi" in optimized_plan(df)


# queries allowed to cross into Python, by design (documented in each module)
ARROW_ALLOWED = {
    "knn_lsh",
    "knn_lsh_exact",
    "embedding_near_dup",
    "embedding_near_dup_exact",
    "band_self_join_knn",
    "neighbors_profiles",  # same cogrouped bucket matmul as band_self_join_knn
    "neighbors_incremental",  # banded cogroup matmul on the delta-scoped probe
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_features",
    "multimodal_png_features",
    "multimodal_video_frames",
}


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_no_row_at_a_time_python(spark, name):
    df = entrymod.queries()[name](spark, SF_SMALL)
    plan = executed_plan(df)
    assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python UDFs"
    if name not in ARROW_ALLOWED:
        assert "ArrowEvalPython" not in plan and "FlatMapCoGroupsInPandas" not in plan and (
            "MapInPandas" not in plan
        ), f"{name} unexpectedly crosses into Python"


def test_ann_plans_have_no_global_window_or_limitless_sort(spark):
    """A partitionless Window funnels the whole corpus through one task —
    the r1 ivf_topk centroid-selection bug. Centroid top-n must plan as
    TakeOrderedAndProject; no ANN SEARCH plan may contain a global
    WindowExec. Audited on the raw top-k engines: since r11 the
    knn_lsh/knn_ivf GATES wrap these in <= 100-row recall-contract
    aggregates (r10 VERDICT #3) whose tiny global aggs are benign — the
    corpus-sized search underneath is what must never funnel."""
    from bgg_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    engines = {
        "lsh_topk": lsh_topk(q, emb, "vec_id", "embedding", k=10),
        "ivf_topk": ivf_topk(q, emb, "vec_id", "embedding", k=10),
        "brute_force_topk": brute_force_topk(q, emb, "vec_id", "embedding", k=10),
    }
    for name, df in engines.items():
        plan = executed_plan(df)
        # a global Window (or global Sort/Limit mid-plan) materializes as an
        # Exchange SinglePartition — none may appear anywhere in a search plan
        assert "SinglePartition" not in plan, f"{name}: single-partition exchange"
    assert "TakeOrderedAndProject" in executed_plan(engines["ivf_topk"])
    plan = executed_plan(entrymod.queries()["doc_vector_knn"](spark, SF_SMALL))
    assert "SinglePartition" not in plan, "doc_vector_knn"


def test_neighbors_profiles_plan_is_grouped_topk_no_funnel(spark):
    """The profile-dimensioned neighbors build must stay per-group at
    every stage: the per-source top-k pushes WindowGroupLimit (rank
    computed only until k survivors per s_id, not a full sort), and NO
    stage funnels through a single partition — two profiles double the
    blocks, not the depth."""
    df = entrymod.queries()["neighbors_profiles"](spark, SF_SMALL)
    plan = executed_plan(df)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_star_cc_final_plan_reads_checkpoints_only(spark):
    """After the contract+star iteration converges, the composed labels
    plan must read ONLY the materialized iteration state (checkpoint
    RDDs): a parquet re-scan in the final plan would mean some lineage
    escaped the per-round truncation and the source would be re-read —
    the plan-doubling failure the checkpoints exist to prevent."""
    df = entrymod.queries()["components_star_chains"](spark, SF_SMALL)
    df.count()
    plan = final_plan(df)
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_dedup_exact_shuffles_fingerprint_first(spark):
    """The dedup_exact exchange must hash-partition on the xxhash64
    fingerprint (first key), not on raw document text alone."""
    plan = executed_plan(entrymod.queries()["dedup_exact"](spark, SF_SMALL))
    assert "xxhash64" in plan, plan[:2000]
    exch = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("_fp" in l for l in exch), exch


def test_incremental_filter_reaches_scan(spark):
    df = entrymod.queries()["watermark_increment"](spark, SF_SMALL)
    plan = executed_plan(df)
    # the watermark predicate must appear as a pushed filter or scan filter
    assert "GreaterThan" in plan, plan[:2000]


TPCH_NEW = [
    "tpch_q2", "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11",
    "tpch_q12", "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17",
    "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
]


@pytest.mark.parametrize("name", TPCH_NEW)
def test_tpch_dims_broadcast_and_no_cartesian(spark, name):
    """Every TPC-H query broadcasts its dimension sides and never plans a
    cartesian product — the scalar-subquery cross joins (q11/q15/q17/q22)
    must be 1-row BroadcastNestedLoopJoins, not CartesianProduct."""
    df = entrymod.queries()[name](spark, SF_SMALL)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, name
    if name != "tpch_q13":  # q13's only join is the 1500-row customer side
        assert "BroadcastExchange" in plan, name


def test_tpch_q17_semi_scopes_per_part_aggregate(spark):
    """The correlated-AVG decorrelation must aggregate only qualifying
    parts' lineitems (left-semi before the per-part agg), not all parts."""
    df = entrymod.queries()["tpch_q17"](spark, SF_SMALL)
    plan = optimized_plan(df)
    assert "LeftSemi" in plan


def test_asof_join_single_exchange_no_range_blowup(spark):
    """The as-of join must plan as the union-window form: ONE hash
    exchange on the key, no (Broadcast)NestedLoopJoin from a range
    condition (the O(matches²) failure shape)."""
    plan = executed_plan(
        entrymod.queries()["asof_feature_join"](spark, SF_SMALL)
    )
    assert "NestedLoopJoin" not in plan
    # the union-window shuffle partitions on the join key (aliased _k)
    assert "hashpartitioning(_k" in plan
    assert "SinglePartition" not in plan


def test_range_join_is_bucketed_equi_join(spark):
    """The time-range join must plan as an equi-join on (key, bucket) —
    never a theta/nested-loop join with the range predicate applied to
    a per-key cross product."""
    plan = executed_plan(
        entrymod.queries()["range_join_recent_activity"](spark, SF_SMALL)
    )
    assert "NestedLoopJoin" not in plan
    assert "_bkt" in plan or "bucket" in plan


def test_salted_join_keys_include_salt(spark):
    """The salted join's exchange must carry the salt sub-key so a hot
    key spreads across tasks."""
    plan = executed_plan(
        entrymod.queries()["salted_join_revenue"](spark, SF_SMALL)
    )
    assert "_salt" in plan
    assert "NestedLoopJoin" not in plan


def test_vocab_encode_plans_takeordered_cut_and_broadcast_join(spark):
    """The vocabulary cut must be a per-partition top-k (TakeOrdered),
    never a global sort of the token counts, and the encode join must
    broadcast the vocabulary side."""
    plan = executed_plan(entrymod.queries()["vocab_encode"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_plans_topk_not_global_sort(spark):
    """A-ES sampling is a pure projection + top-k: TakeOrderedAndProject,
    zero exchanges over the corpus."""
    plan = executed_plan(entrymod.queries()["weighted_sample"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan[:2000]


def test_incremental_dedup_index_only_touched_by_band_equijoin(spark):
    """The batch-vs-index candidate join must be a hash equi-join on
    (band, bucket) — never a nested-loop/cartesian over the index."""
    plan = executed_plan(
        entrymod.queries()["dedup_minhash_incremental"](spark, SF_SMALL)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "bucket" in plan


def test_dsir_plans_takeordered_and_bounded_broadcasts(spark):
    """The DSIR top-k must be a per-partition heap (TakeOrdered), never
    a global sort, and the model joins must broadcast (bucket-bounded
    256-row tables)."""
    plan = executed_plan(entrymod.queries()["dsir_importance"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_test_is_scan_side(spark):
    """The Bloom membership test must be a filter over the probe scan
    with only a single-row bitmap broadcast — the probe side must reach
    the test without any hash exchange of its own (the pruning happens
    BEFORE the join shuffle; the fixture repartition is the stand-in
    input parallelism, not part of the operator)."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.bloom_join import (
        bloom_build,
        bloom_prune,
    )

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = (
        spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    bloom = bloom_build(cust, "c_custkey", num_bits=4096)
    pruned = bloom_prune(orders, "o_custkey", bloom, num_bits=4096)
    plan = executed_plan(pruned)
    # the probe subtree (everything above the bitmap's BroadcastExchange)
    # must be scan -> filter with NO hash exchange; the bounded bitmap
    # BUILD below the broadcast may shuffle its <= num_bits/64 word rows
    probe_side = plan.split("BroadcastExchange")[0]
    assert "FileScan" in probe_side
    assert "Exchange hashpartitioning" not in probe_side, probe_side[:2000]
    assert plan.count("BroadcastExchange") >= 1


def test_join_skew_report_plans_topk_not_global_window(spark):
    """Top-20 must come from TakeOrderedAndProject over the key counts;
    the rank window may only run on the 20 survivors."""
    plan = executed_plan(entrymod.queries()["join_skew_report"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_cms_sketch_aggregates_with_partial_combine(spark):
    """The CMS grid build must plan a partial (map-side) aggregate so
    the shuffle is bounded at grid size per task."""
    from bgg_data_warehouse_spark.operators.sketches import cms_sketch

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    plan = executed_plan(cms_sketch(ev, "user_id", depth=4, width=64))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_cdc_upsert_window_and_join_share_one_exchange(spark):
    """The LWW window shuffles on the key once; the full-outer join on
    the SAME key must reuse that partitioning on the change side (one
    Exchange for the change branch, not two back-to-back)."""
    df = entrymod.queries()["cdc_upsert"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "RunningWindowFunction" in plan or "Window" in plan
    # exactly TWO hash exchanges in the whole final plan: one per join
    # side; a third would mean the window's partitioning was not reused
    # by the SMJ on the change branch
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_equidepth_histogram_broadcasts_edges_no_sort(spark):
    """Edges must arrive as a broadcast single row and the bin pass must
    not plan ANY global sort (the ntile formulation would)."""
    plan = executed_plan(
        entrymod.queries()["equidepth_histogram"](spark, SF_SMALL)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Sort [v" not in plan and "Sort [o_totalprice" not in plan


def test_winsorize_stats_ride_one_broadcast_row(spark):
    """All five cut points come from one aggregate broadcast to the
    scan; no shuffle of the fact side at all."""
    plan = executed_plan(
        entrymod.queries()["winsorize_robust"](spark, SF_SMALL)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # fact side must not be exchanged: the only hash exchange allowed is
    # inside the percentile aggregate's partial->final step
    assert plan.count("Exchange hashpartitioning") <= 1


def test_sliding_window_distinct_expands_bounded_not_range_join(spark):
    """The scalable side must plan the 7x explode + distinct, never a
    calendar x activity non-equi join (no BroadcastNestedLoopJoin with
    a range condition on the data path)."""
    df = entrymod.queries()["sliding_window_distinct"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "Explode" in plan or "Generate" in plan
    # count-distinct via the (user, window_end) distinct: grouped agg
    assert "HashAggregate" in plan
    # the only nested-loop join allowed is the SCALAR span broadcast —
    # a plain Cross with no join condition. A regression to the naive
    # calendar x activity range join would plan a conditioned
    # BroadcastNestedLoopJoin on the data path.
    import re

    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert re.search(r"BroadcastNestedLoopJoin BuildRight, Cross\s*$", line), line


def test_entity_resolution_quadratic_work_is_name_bounded(spark):
    """The Levenshtein self-join must run on the DISTINCT-name relation:
    the join inputs carry aggregates (the name grouping), not raw part
    scans on both sides."""
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    p = load_table(spark, SF_SMALL, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("n"),
        F.split(F.col("p_name"), " ").getItem(0).alias("blk"),
    )
    names = p.groupBy("blk", "n").agg(F.min("k").alias("node"))
    ne = (
        names.alias("a")
        .join(names.alias("b"), "blk")
        .where(
            (F.col("a.node") < F.col("b.node"))
            & (F.levenshtein(F.col("a.n"), F.col("b.n")) <= 4)
        )
    )
    plan = executed_plan(ne)
    # both join children aggregate before joining
    assert plan.count("HashAggregate") >= 2


# ---------------------------------------------------------------------------
# Round-7 additions
# ---------------------------------------------------------------------------


def test_hll_grid_partial_aggregates_and_bounded_exchanges(spark):
    """The HLL build must map-side combine (partial+final HashAggregate)
    so each task ships at most |groups| x m register rows, and
    build + MAX-merge stays at <= 2 hash exchanges. Asserted on the
    build/merge frames DIRECTLY: inside the graded query the grouped
    hll_estimate localCheckpoints the grid, so the query's final plan
    only shows the checkpoint scan — auditing it would be vacuous."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.sketches import (
        hll_merge,
        hll_register_grid,
    )

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = hll_register_grid(
        ev, "user_id", m=16, group_cols=["event_type", "day"]
    )
    merged = hll_merge(daily, group_cols=["event_type"])
    merged.collect()
    plan = final_plan(merged)
    assert plan.count("HashAggregate") >= 4  # partial+final x (build, merge)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan
    # the graded query still runs end-to-end without a cartesian
    q = entrymod.queries()["approx_distinct_hll"](spark, SF_SMALL)
    q.collect()
    assert "CartesianProduct" not in final_plan(q)


def test_quantile_sketch_merge_is_sketch_sized(spark):
    """Partial sketches union + re-sum without a per-branch reshuffle:
    the merged build must plan at most 3 hash exchanges total."""
    df = entrymod.queries()["quantile_sketch_merge"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert plan.count("HashAggregate") >= 4  # partial+final per build


def test_quantile_sketch_query_pushes_rank_limit(spark):
    """The first-bin pick (rn = 1) must plan WindowGroupLimit — per-
    partition top-1 pushdown — rather than ranking every (group, q)
    candidate bin and filtering after."""
    df = entrymod.queries()["quantile_sketch_query"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_pmi_top_k_plans_take_ordered(spark):
    """PMI top-30 must be a TakeOrderedAndProject (per-partition heaps),
    and pair generation must never plan a positions self-join: no
    CartesianProduct anywhere; SinglePartition only for the two scalar
    totals."""
    df = entrymod.queries()["pmi_collocations"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") <= 2, plan


def test_tfidf_top3_pushes_window_group_limit(spark):
    """The per-doc top-3 must plan WindowGroupLimit so no task ever
    materializes a document's full ranked vocabulary."""
    df = entrymod.queries()["tfidf_keywords"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_channels_are_top_k(spark):
    """Both retrieval channels must reach the fusion as top-k
    (TakeOrdered) relations; the only global windows allowed are the
    rank projections over the already-limited <= 20-row lists."""
    df = entrymod.queries()["hybrid_rrf_search"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan


def test_top_user_paths_pushes_rank_limit_and_takes_ordered(spark):
    """The first-3-events cut must plan WindowGroupLimit (per-partition
    top-3, bounded buffering) and the final top-20 must be a
    TakeOrderedAndProject, not a global sort."""
    df = entrymod.queries()["top_user_paths"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_transition_matrix_normalizes_on_cell_table(spark):
    """The row-normalizing window must run over the |types|^2 CELL
    table (post-aggregate), so no data-sized rows pass through it: the
    plan's Window sits above a HashAggregate, and the only token-volume
    exchange is the user_id sequence shuffle."""
    df = entrymod.queries()["event_transition_matrix"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    # sequence shuffle (user_id) + cell aggregate + tiny normalize window
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_triangle_census_builds_baskets_once_via_reused_exchange(spark):
    """All four scalar branches (nodes, edges, wedges, triangles) of the
    census derive from ONE basket aggregate: the collect_set
    ObjectHashAggregate must appear exactly once (partial + final) in
    the final plan, with every other branch riding ReusedExchange —
    the docstring's materializes-once claim, pinned."""
    df = entrymod.queries()["triangle_census"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("ObjectHashAggregate") == 2, plan
    assert "ReusedExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_kcore_peel_round_is_semi_equi_join_with_partial_agg(spark):
    """One peeling round (operators/graph.py peel_round — the exact
    code kcore loops, audited un-checkpointed because the gated query's
    final plan only shows the last lineage segment): the survivor
    restriction must be two LeftSemi equi-joins of the residual edges
    against the node-sized keep set — never a nested-loop — and the
    degree aggregate must partial-aggregate map-side."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.graph import peel_round

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    e = li.select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    df = peel_round(e, 2)
    df.collect()
    plan = final_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("LeftSemi") == 2, plan
    assert "partial_count" in plan, plan


def test_peak_concurrency_has_no_data_sized_global_window(spark):
    """The sweep's running sum must ride the bucketed two-pass scan:
    the only single-partition exchange in the plan is the |buckets|-row
    offset prefix, never the boundary stream itself, and the data-path
    window is partitioned on the bucket key."""
    df = entrymod.queries()["peak_concurrency"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "Exchange hashpartitioning(_b" in plan, plan


def test_sorted_neighborhood_rank_join_is_equi_join(spark):
    """The rank-band probe must plan as a hash EQUI-join on the
    exploded probe rank — no range-condition nested loop."""
    df = entrymod.queries()["sorted_neighborhood_pairs"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_merkle_union_reuses_single_leaf_scan(spark):
    """All six tree-level union branches must derive from ONE orders
    scan / leaf aggregate via ReusedExchange — the un-CSE'd-union
    recompute (each level re-reading the table) is the regression this
    pins against."""
    df = entrymod.queries()["merkle_table_root"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("ReusedExchange") >= 4, plan


def test_pareto_frontier_is_scan_plus_prefix_min_no_pair_join(spark):
    """The skyline must be the distinct-pair reduction + prefix-min
    scan — never the oracle's quadratic pair join: no nested-loop, no
    cartesian, and the only single-partition exchange is the
    price-band offset table."""
    df = entrymod.queries()["pareto_frontier"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_association_rules_plans_takeordered_single_basket_agg(spark):
    """Top-100 must be a TakeOrderedAndProject and the basket
    collect_set aggregate must materialize once — pair and item
    supports share its exchange via ReusedExchange (a re-aggregated
    copy with different aliases planned a full second basket build
    before basket_sets was shared)."""
    df = entrymod.queries()["association_rules"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the heavy collect_set partial materializes ONCE (item supports
    # ride ReusedExchange off it); the basket total legitimately plans
    # its own skinny 1-column scan (Catalyst prunes collect_set away —
    # cheaper than reusing the wide exchange), so scans <= 2.
    assert plan.count("partial_collect_set") == 1, plan
    assert plan.count("Scan parquet") <= 2, plan
    # the only nested-loop is the 1-row basket-total broadcast (a plain
    # Cross with no condition)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert line.strip().endswith("BuildRight, Cross"), line


def test_holt_winters_folds_arrays_no_per_step_shuffle(spark):
    """The 30-step seasonal recurrence must fold inside ONE aggregate
    projection over per-series arrays — the plan has a fixed handful
    of exchanges (daily counts, series collect, span/type broadcasts),
    never one per time step."""
    df = entrymod.queries()["holt_winters_seasonal"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    # a per-step rewrite would need windows or per-round joins
    assert "Window" not in plan, plan


def test_unigram_dp_is_projection_over_collected_edges(spark):
    """The Viterbi must run as a map-side projection over each word's
    collected edge list: no cartesian, and the only nested-loop is the
    1-row vocabulary-total broadcast (conditionless Cross) — the
    lattice itself must never pair words against pieces non-equi."""
    df = entrymod.queries()["unigram_segment_compounds"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert line.strip().endswith("BuildRight, Cross"), line


def test_merkle_update_is_one_scan_no_per_level_joins(spark):
    """The incremental update must read the table once (the changed
    bucket's recount; the base commitment is pinned) and fold the path
    map-side: no per-level equi-joins against the tree, only the
    conditionless 1-row sibling-set Cross broadcast."""
    df = entrymod.queries()["merkle_incremental_update"](spark, SF_SMALL)
    df.collect()
    plan = final_plan(df)
    assert plan.count("Scan parquet") <= 1, plan
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert line.strip().endswith("BuildRight, Cross"), line


def test_lpa_dense_round_plans_zero_exchange(spark):
    """The r10 LPA fast path's contract: with adjacency pinned, a vote
    round is ONE map stage — the broadcast of the label array is the
    only data movement, so the round plan must contain no Exchange at
    all (a regression to join/aggregate rounds reintroduces 2 shuffles
    x K rounds). Audited on the real co-purchase build at sf0.001."""
    from bgg_data_warehouse_spark.operators.label_prop import (
        _array_mode_smallest,
        basket_sets,
        canonical_pairs_from_baskets,
        mirror_pairs,
    )
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMALL, "lineitem")
    mirrored = mirror_pairs(
        canonical_pairs_from_baskets(basket_sets(li, "l_orderkey", "l_partkey"))
    )
    built = (
        mirrored.repartition("src")
        .groupBy("src")
        .agg(
            F.array_union(F.collect_set("dst"), F.array(F.col("src"))).alias(
                "nbrs"
            )
        )
    )
    # the whole adjacency build: exactly TWO exchanges — the basket
    # collect_set and the src repartition. The pair mirror must be
    # map-side (no third exchange) and the adjacency collect_set must
    # ride the repartition, not add its own. Audited BEFORE the
    # checkpoint — a checkpointed frame's plan is just the RDD scan.
    build_plan = executed_plan(built)
    assert build_plan.count("Exchange") == 2, build_plan
    adj = built.localCheckpoint(eager=False)
    # a round-2-shaped step: labels from a prior round, broadcast as the
    # positional array, mode fold map-side
    labels = adj.select(F.col("src").alias("v"), F.col("src").alias("label"))
    la = labels.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("v", "label"))),
            lambda s: s["label"],
        ).alias("la")
    )
    lo = adj.agg(F.min("src")).collect()[0][0]
    round_df = adj.crossJoin(F.broadcast(la)).select(
        F.col("src").alias("v"),
        _array_mode_smallest(
            F.transform(
                "nbrs",
                lambda u: F.element_at(
                    F.col("la"), (u - F.lit(int(lo)) + F.lit(1)).cast("int")
                ),
            )
        ).alias("label"),
    )
    plan = executed_plan(round_df)
    # the only allowed movement is the 1-row label-array broadcast; the
    # adjacency side must stream from the checkpoint with no shuffle
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_cc_incremental_update_never_scans_base_edges(spark, tmp_path):
    """The incremental CC contract (r10 VERDICT #4): given the STORED
    label table on disk, absorbing a delta batch must read the label
    parquet and the delta parquet only — the base edge parquet (4+ h of
    recompute input at reference scale) must appear in no scan. Also
    asserts the output equals the full recompute on base ∪ delta."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_update,
    )
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = ev.select(
        F.col("event_id").alias("src"),
        F.lead("event_id").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    is_delta = F.pmod(F.xxhash64("src", "dst"), F.lit(8)) == 0
    base_dir = str(tmp_path / "base_edges")
    labels_dir = str(tmp_path / "stored_labels")
    delta_dir = str(tmp_path / "delta_edges")
    # base-edge fixture gets UNIQUE column names: plan Location paths are
    # truncated in explain output, but ReadSchema column names are not —
    # a scan of the base parquet would surface `base_src`.
    edges.where(~is_delta).select(
        F.col("src").alias("base_src"), F.col("dst").alias("base_dst")
    ).write.parquet(base_dir)
    edges.where(is_delta).write.parquet(delta_dir)
    connected_components_star(
        spark.read.parquet(base_dir), "base_src", "base_dst",
        canonical_edges=True,
    ).write.parquet(labels_dir)

    out = incremental_components_update(
        spark.read.parquet(labels_dir),
        spark.read.parquet(delta_dir),
        "src",
        "dst",
    )
    got = {(r["node"], r["canonical"]) for r in out.collect()}
    plan = executed_plan(out)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan[:2000]
    assert all("base_src" not in l for l in scans), scans
    assert any("node" in l and "canonical" in l for l in scans), scans

    full = connected_components_star(edges, "src", "dst", canonical_edges=True)
    want = {(r["node"], r["canonical"]) for r in full.collect()}
    assert got == want


def test_cc_update_delta_never_scans_base_edges(spark, tmp_path):
    """The change-set variant (r13 VERDICT #5) keeps the full variant's
    contract: computing the generation rows for an edge-addition epoch
    reads the stored label parquet and the delta parquet only — no base
    -edge scan — and the change set applied replace-by-key over the
    stored labels equals the full recompute on base ∪ delta."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_update_delta,
    )
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    edges = ev.select(
        F.col("event_id").alias("src"),
        F.lead("event_id").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    is_delta = F.pmod(F.xxhash64("src", "dst"), F.lit(8)) == 0
    base_dir = str(tmp_path / "base_edges")
    labels_dir = str(tmp_path / "stored_labels")
    delta_dir = str(tmp_path / "delta_edges")
    edges.where(~is_delta).select(
        F.col("src").alias("base_src"), F.col("dst").alias("base_dst")
    ).write.parquet(base_dir)
    edges.where(is_delta).write.parquet(delta_dir)
    connected_components_star(
        spark.read.parquet(base_dir), "base_src", "base_dst",
        canonical_edges=True,
    ).write.parquet(labels_dir)

    stored = spark.read.parquet(labels_dir)
    out = incremental_components_update_delta(
        stored, spark.read.parquet(delta_dir), "src", "dst"
    )
    changes = {(r["node"], r["canonical"]) for r in out.collect()}
    plan = executed_plan(out)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan[:2000]
    assert all("base_src" not in l for l in scans), scans

    applied = {r["node"]: r["canonical"] for r in stored.collect()}
    applied.update(dict(changes))
    full = connected_components_star(edges, "src", "dst", canonical_edges=True)
    want = {(r["node"], r["canonical"]) for r in full.collect()}
    assert set(applied.items()) == want
    # and the change set is strictly smaller than the labeling it updates
    assert len(changes) < len(want)


def _scan_output_rows(df) -> int:
    """Sum of numOutputRows over every file scan in the EXECUTED plan —
    rows the parquet reader actually materialized, i.e. rows in row
    groups that survived zone-map (min/max) pruning. Must be read after
    an action has run the plan."""
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        m = leaf.metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total


def test_cc_incremental_delete_prunes_unaffected_component_partitions(spark, tmp_path):
    """The delete-side localization contract (r10 VERDICT #4): with the
    production layout — stored edges PARTITIONED by their component id
    (canonical_col) — deleting edges inside one component must read only
    that component's partition. The operator collects the delta-bounded
    affected set and pushes a LITERAL IN-filter
    (incremental_components_delete's canonical_col path), so the scan
    carries a static PartitionFilter and unaffected components' files
    are never opened. Asserted on the localization slice's executed
    plan + scan metrics (the operator checkpoints it internally, so its
    scan is invisible in the output plan), then on the operator's
    output equality with the full recompute."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
        incremental_components_delete,
    )
    from bgg_data_warehouse_spark.sources.tables import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_SMALL, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = orders.select(
        F.col("o_orderkey").alias("src"),
        F.lead("o_orderkey").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    labels0 = connected_components_star(
        edges, "src", "dst", canonical_edges=True
    ).localCheckpoint(eager=True)
    edges_dir = str(tmp_path / "edges_by_comp")
    (
        edges.join(labels0.withColumnRenamed("node", "src"), "src")
        .select("src", "dst", F.col("canonical").alias("comp"))
        .write.partitionBy("comp")
        .parquet(edges_dir)
    )
    stored = spark.read.parquet(edges_dir)
    n_total = stored.count()
    # delete one edge from ONE component: the largest chain's first link
    top = (
        labels0.groupBy("canonical").count().orderBy(F.col("count").desc())
        .limit(1).collect()[0]
    )
    victim = (
        edges.join(
            labels0.where(F.col("canonical") == top["canonical"])
            .withColumnRenamed("node", "src"),
            "src",
        ).select("src", "dst").limit(1).localCheckpoint(eager=True)
    )
    # the localization slice, exactly as the operator's canonical_col
    # path builds it (a literal IN over the affected component ids)
    slice_df = stored.where(F.col("comp").isin([top["canonical"]]))
    slice_df.collect()
    plan = final_plan(slice_df)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, plan[:3000]
    assert any(
        "PartitionFilters" in l and "comp" in l.split("PartitionFilters", 1)[1][:120]
        for l in scans
    ), scans
    # files outside the affected partition were never materialized
    n_read = _scan_output_rows(slice_df)
    assert n_read < n_total // 2, (n_read, n_total)
    assert n_read == int(top["count"]) - 1, (n_read, top)  # chain edges = nodes-1

    out = incremental_components_delete(
        labels0, stored, victim, "src", "dst", canonical_col="comp"
    )
    got = {(r.node, r.canonical) for r in out.collect()}
    remaining = edges.join(victim, ["src", "dst"], "left_anti")
    want = {
        (r.node, r.canonical)
        for r in connected_components_star(remaining, "src", "dst").collect()
    }
    assert got == want


def test_inverted_index_update_tombstones_map_side(spark):
    """update_postings' tombstone pass must plan as a broadcast
    LEFT-ANTI over the stored index — the changed-id set is
    delta-bounded, so no shuffle of posting rows is ever justified."""
    df = entrymod.queries()["inverted_index_incremental"](spark, SF_SMALL)
    plan = final_plan(df)
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti, plan[:2000]
    assert all("BroadcastHashJoin" in l for l in anti), anti


def test_minhash_index_maintenance_map_side_band_bucket_only(spark):
    """dedup_minhash_delete's maintenance passes (tombstone over the
    stored sketch index + deletion-precedence filter on the delta) must
    plan as broadcast LEFT-ANTIs — the changed-id set is delta-bounded,
    so no shuffle of corpus sketch rows is ever justified — and the
    pair regeneration must touch the maintained index only through the
    (band, bucket) equi-join, never a cartesian."""
    df = entrymod.queries()["dedup_minhash_delete"](spark, SF_SMALL)
    plan = final_plan(df)
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti, plan[:2000]
    assert all("BroadcastHashJoin" in l for l in anti), anti
    assert "CartesianProduct" not in plan, plan[:2000]
    # the bucket self-join keys on (band, bucket), not doc
    inner = [
        l for l in plan.splitlines()
        if "Join" in l and "Inner" in l and "band" in l and "bucket" in l
    ]
    assert inner, plan[:3000]


def test_neighbors_incremental_scoping_broadcast_single_cogroup(spark):
    """incremental_neighbors' refresh plan (stored fixture cut off via
    checkpoint): the affected scoping is a broadcast LEFT-SEMI, the
    stored-row pass-through a broadcast LEFT-ANTI, and exactly ONE
    banded cogroup runs — the stored table is never recomputed and
    unchanged queries never re-enter the band join."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.band_join import (
        banded_cosine_pairs,
        incremental_neighbors,
    )
    from bgg_data_warehouse_spark.operators.latest import topk_per_key
    from bgg_data_warehouse_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    is_delta = (F.col("label") == 9) & (F.col("vec_id") % 5 == 0)
    base, delta = emb.where(~is_delta), emb.where(is_delta)
    stored = topk_per_key(
        banded_cosine_pairs(base, "vec_id", "label", "embedding", 1.0),
        ["s_id"],
        [F.col("cos").desc(), F.col("t_id").asc()],
        k=5,
    ).select(
        F.col("s_id").alias("query_id"),
        F.col("t_id").alias("nbr_id"),
        F.round("cos", 6).alias("cosine_sim"),
        "rank",
    ).localCheckpoint(eager=True)
    df = incremental_neighbors(
        stored, base, delta, "vec_id", "label", "embedding", 1.0, 5
    )
    df.count()
    plan = final_plan(df)
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan[:3000]
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi and all("BroadcastHashJoin" in l for l in semi), semi
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and all("BroadcastHashJoin" in l for l in anti), anti
    assert "CartesianProduct" not in plan, plan[:2000]


def test_retrieval_pipeline_reads_pinned_chunks_no_cartesian(spark):
    """The end-to-end retrieval gate must (a) tokenize+chunk ONCE — both
    channels read the pinned chunk checkpoint, so the executed plan
    contains no parquet re-scan of documents; (b) never plan a
    cartesian product; (c) broadcast the query-chunk side of the
    vector channel's bucket join."""
    df = entrymod.queries()["retrieval_pipeline"](spark, SF_SMALL)
    df.count()
    plan = final_plan(df)
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
