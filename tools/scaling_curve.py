"""Per-query scaling audit: how does every graded query's runtime grow
across a 10x data-size step (sf0.01 -> sf0.1)?

The suite's correctness gates prove WHAT each operator computes; this
tool measures how its cost MOVES with data size — the empirical check
behind every "bounded / one shuffle / never quadratic" docstring claim.
On 10x more data a healthy distributed plan grows at most ~10x
(compute-bound linear) and usually far less (fixed scheduling overhead
dominates small inputs); a ratio well past 10x is the signature of a
stage whose work grows faster than its input — the thing that dies at
100 TB no matter how green the gates are.

Method: same measurement discipline as bench.py (noop sink forces full
execution, cache cleared + GC settled between queries, min-of-2 on the
slow tail at each SF so one contention window can't fake a superlinear
ratio). Queries are measured at the SMALL sf first, then the large, so
page-cache warming biases AGAINST false negatives (the large run gets
no cold-read excuse).

Run:  python tools/scaling_curve.py [small_sf_dir] [big_sf_dir] [name ...]
Prints ONE JSON line:
  {"small": ..., "big": ..., "factor": 10.0,
   "queries": {name: {"t_small": s, "t_big": s, "ratio": r}},
   "flagged": [names with ratio > FLAG_RATIO], ...}

Skew audit (r8 VERDICT #7 — the 10x audit scales VOLUME; this scales
KEY CONCENTRATION):  python tools/scaling_curve.py --skew [sf_dir]
For each query in SKEW_QUERIES, builds a zipf-skewed variant of its
driving table (30% of rows remapped onto 5 hot keys with geometric
8:4:2:1:1 weights — deterministic, hash-selected), runs the query on
the uniform dir and the skewed dir at the SAME volume, and prints
  {"skew": {name: {"t_uniform": s, "t_skew": s, "ratio": r,
                   "table": t, "key": k}}, "skew_flagged": [...]}
A skew-resilient plan does the same total work on both (ratio ~1, a
little above for the extra hot-key bytes); a skew-broken plan funnels
the hot keys through one task and the ratio heads toward the task
count. Flag bar is SKEW_FLAG_RATIO.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# 10x data, and small-SF timings sit on a fixed scheduling floor that
# deflates the denominator — so even a linear operator can brush 10.
# Past 12 the growth is faster than the data and worth an explanation.
FLAG_RATIO = 12.0

# Same bytes, same rows — only the key distribution moves. A resilient
# plan's wall time barely moves (the hot keys' work spreads: salting,
# day-bucket segmentation, degree-bounded rounds); 4x is far above
# measurement noise yet far below the ~32x a one-task funnel costs on
# local[32].
SKEW_FLAG_RATIO = 4.0

# query -> (driving table, key column to skew, oracle sf dir or None).
# These are the suite's explicit skew-resilience claims (salting /
# segmented as-of carry / hub-degree LPA rounds) plus — since r10 —
# the window-heavy and iterative gates a hot-key user hits first
# (sessionize / top_user_paths: one user takes 30% of events;
# kcore_parts: hub part; dedup_cluster_collapse: 5 mega-documents).
# Timing always runs at the main sf_dir; the oracle hash-verification
# runs on a skewed copy of ``oracle sf`` when set — the heavyweight
# oracles (recursive-CTE components, quadratic token joins) are
# gate-scale (sf0.01, the driver's own correctness scale) by design
# and cannot finish at sf0.1 inside the verification timeout.
SKEW_ORACLE_SF = "/root/testdata/sf0.01"
SKEW_QUERIES = {
    "salted_join_revenue": ("lineitem", "l_orderkey", None),
    "asof_feature_join_segmented": ("events", "user_id", None),
    "label_propagation": ("lineitem", "l_partkey", None),
    "sessionize": ("events", "user_id", None),
    "top_user_paths": ("events", "user_id", None),
    "kcore_parts": ("lineitem", "l_partkey", SKEW_ORACLE_SF),
    "dedup_cluster_collapse": ("documents", "doc_id", SKEW_ORACLE_SF),
}


def _skewed_table(spark, src_path: str, key: str):
    """30% of rows remapped onto 5 hot existing keys, geometric
    8:4:2:1:1 (zipf-ish head). Hash-selected from the full row, so the
    remap is deterministic across runs and partitionings."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(src_path)
    # NULLs sort first ascending, so a nullable skew key would otherwise
    # put NULL in the hot set and remap half the skewed rows onto it
    hot = [
        r[0]
        for r in df.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .orderBy(key)
        .limit(5)
        .collect()
    ]
    cols = [F.col(c) for c in df.columns]
    pick = F.pmod(F.xxhash64(*cols), F.lit(10)) < 3
    r16 = F.pmod(F.xxhash64(F.lit(1), *cols), F.lit(16))
    if not hot:
        raise ValueError(f"skew key '{key}' has no non-null values to skew onto")
    # clamp: a key with 1-4 distinct values still skews onto what exists
    h = [hot[min(i, len(hot) - 1)] for i in range(5)]
    hot_key = (
        F.when(r16 < 8, F.lit(h[0]))
        .when(r16 < 12, F.lit(h[1]))
        .when(r16 < 14, F.lit(h[2]))
        .when(r16 < 15, F.lit(h[3]))
        .otherwise(F.lit(h[4]))
    )
    return df.withColumn(
        key, F.when(pick, hot_key.cast(df.schema[key].dataType)).otherwise(F.col(key))
    )


def _build_skew_dir(spark, sf_dir: str, table: str, key: str) -> str:
    """A sibling data dir: every table symlinked from ``sf_dir`` except
    ``table``, which is rewritten with the skewed key column."""
    import shutil

    out = os.path.join(
        "/tmp", "spark_graft_skew", f"{os.path.basename(sf_dir)}_{table}_{key}"
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet"):
            continue
        if f == f"{table}.parquet":
            _skewed_table(spark, os.path.join(sf_dir, f), key).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f))
        else:
            # absolute target: a relative sf_dir argument would otherwise
            # dangle (symlinks resolve relative to their OWN directory)
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f)), os.path.join(out, f)
            )
    return out


def skew_main() -> None:
    args = [a for a in sys.argv[1:] if a != "--skew"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from bgg_data_warehouse_spark.session import get_spark
    import __spark_entry__ as entrymod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("skew-curve", cpus=cpus)
    qs = entrymod.queries()

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def reset() -> None:
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def timed(fn, d: str) -> float:
        # min-of-2 unconditionally: each (query, dir) cell is one number
        # the flag decision rides on, so a single contention window must
        # not fake (or mask) a skew funnel
        best = float("inf")
        for _ in range(2):
            reset()
            t0 = time.perf_counter()
            force(fn(spark, d))
            best = min(best, time.perf_counter() - t0)
        return best

    def oracle_ok(skew_dir: str, name: str) -> bool:
        """Hash-verify the query against its DuckDB oracle ON THE SKEWED
        data (check_oracle reads Spark-written table dirs since r9) — a
        plan that 'handles' skew by dropping or duplicating hot-key rows
        must fail here, so the timing ratio can't be gamed."""
        import subprocess

        try:
            r = subprocess.run(
                [
                    sys.executable,
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)), "check_oracle.py"
                    ),
                    skew_dir,
                    name,
                ],
                capture_output=True,
                text=True,
                timeout=600,
            )
        except subprocess.TimeoutExpired:
            return False
        # exit code is the failure count (check_oracle exits via
        # SystemExit(main())); ALSO require evidence the query actually
        # ran — a renamed/unregistered name would run zero queries and
        # exit 0, silently verifying nothing
        return r.returncode == 0 and f"ok    {name}" in r.stdout

    out: dict[str, dict] = {}
    for name, (table, key, oracle_sf) in SKEW_QUERIES.items():
        fn = qs[name]
        skew_dir = _build_skew_dir(spark, sf_dir, table, key)
        force(fn(spark, sf_dir))  # warm both dirs + JIT before timing
        force(fn(spark, skew_dir))
        tu = timed(fn, sf_dir)
        tk = timed(fn, skew_dir)
        if oracle_sf is None:
            oracle_dir = skew_dir
        else:
            oracle_dir = _build_skew_dir(spark, oracle_sf, table, key)
        out[name] = {
            "table": table,
            "key": key,
            "t_uniform": round(tu, 3),
            "t_skew": round(tk, 3),
            "ratio": round(tk / tu, 2) if tu > 0 else None,
            "oracle_ok_on_skew": oracle_ok(oracle_dir, name),
            "oracle_sf_dir": oracle_sf or sf_dir,
        }
    flagged = sorted(
        (
            n
            for n, v in out.items()
            if (v["ratio"] or 0) > SKEW_FLAG_RATIO or not v["oracle_ok_on_skew"]
        ),
        key=lambda n: -(out[n]["ratio"] or 0),
    )
    print(
        json.dumps(
            {
                "metric": "skew_ratio_same_volume",
                "sf_dir": sf_dir,
                "skew_shape": "30pct_rows_on_5_hot_keys_geometric",
                "skew_flag_ratio": SKEW_FLAG_RATIO,
                "timing": "min2_all",
                "skew": out,
                "skew_flagged": flagged,
            }
        )
    )


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]

    from bgg_data_warehouse_spark.session import get_spark
    import __spark_entry__ as entrymod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scaling-curve", cpus=cpus)
    qs = entrymod.queries()
    if names:
        unknown = [n for n in names if n not in qs]
        if unknown:
            # fail loudly: a silently-dropped name would let "flagged: []"
            # read as coverage for a query that was never measured
            raise SystemExit(f"unknown query names: {unknown}")
        qs = {n: qs[n] for n in names}

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def reset() -> None:
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def timed(fn, sf_dir) -> float:
        reset()
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        t = time.perf_counter() - t0
        if t > 2.0:  # bench.py's min2_gt2s policy, per SF
            reset()
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            t = min(t, time.perf_counter() - t0)
        return t

    # warmup both directories' tables + JIT
    force(qs.get("latest_snapshot", next(iter(qs.values())))(spark, small))
    force(qs.get("latest_snapshot", next(iter(qs.values())))(spark, big))

    out: dict[str, dict[str, float]] = {}
    for name, fn in qs.items():
        ts = timed(fn, small)
        tb = timed(fn, big)
        out[name] = {
            "t_small": round(ts, 3),
            "t_big": round(tb, 3),
            "ratio": round(tb / ts, 2) if ts > 0 else None,
        }

    flagged = sorted(
        (n for n, v in out.items() if (v["ratio"] or 0) > FLAG_RATIO),
        key=lambda n: -out[n]["ratio"],
    )
    print(
        json.dumps(
            {
                "metric": "scaling_ratio_10x",
                "small": small,
                "big": big,
                "flag_ratio": FLAG_RATIO,
                "timing": "min2_gt2s_per_sf",
                "queries": dict(
                    sorted(out.items(), key=lambda kv: -(kv[1]["ratio"] or 0))
                ),
                "n_queries": len(out),
                "flagged": flagged,
            }
        )
    )




# ---------------------------------------------------------------------------
# Fixed-delta / growing-base curves for the incremental-maintenance family
# (r11 VERDICT #6): the point of delta-sized maintenance is BASE-SIZE
# independence of the work the full rebuild redoes — prove it by holding
# the delta at a fixed absolute size while the base grows 100x
# (sf0.001 -> 0.01 -> 0.1), timing the maintenance op and its
# full-rebuild twin at each base size. Stored state is written to (and
# read back from) parquet so the timed op starts from storage, exactly
# like production; setup/rebuild of that state is never timed.
#
# Reading the output: slope_incr = t_incr(big)/t_incr(small) across the
# 100x base step, vs slope_full for the rebuild twin. Maintenance whose
# compute is delta-sized should hold slope_incr well under slope_full
# (flat up to the O(base) narrow output pass some maintainers
# necessarily keep — relabel/anti-join passes write base-sized state);
# merkle/MV, whose state is log/grain-sized, should be near-1.
# ---------------------------------------------------------------------------

INCR_SMALL = "/root/testdata/sf0.001"
INCR_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _rest_stages(spark) -> list[dict]:
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        return _json.load(r)


def _max_stage_id(spark) -> int:
    """High-watermark over ALL retained stages (any status). Stage ids
    are monotone, so 'work since' = stages above this id — immune to
    the UI's retainedStages eviction, which silently shrinks any
    sum-of-totals delta (the first cut of this harness measured
    NEGATIVE read slopes that way)."""
    return max((s["stageId"] for s in _rest_stages(spark)), default=-1)


def _work_since(spark, after_id: int) -> dict[str, int]:
    """Executor work counters for completed stages newer than
    ``after_id`` (r12 VERDICT #7): the run's ACTUAL read volume and
    shuffle volume — the base-size-independence claim becomes
    'incremental maintenance READS O(delta + index), rebuild reads
    O(corpus)', immune to the round-latency floors that flatten the
    rebuild twins' wall-clock slopes at small SFs."""
    new = [
        s
        for s in _rest_stages(spark)
        if s["stageId"] > after_id and s.get("status") == "COMPLETE"
    ]
    return {
        "read_bytes": sum(s.get("inputBytes", 0) for s in new),
        "read_rows": sum(s.get("inputRecords", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        # sink volume (r14 VERDICT #1): the delta-sized-WRITE claim of
        # the logged maintainers measured directly — a snapshot wrapper
        # writes O(table) here per batch, a logged twin O(batch)
        "write_bytes": sum(s.get("outputBytes", 0) for s in new),
        "write_rows": sum(s.get("outputRecords", 0) for s in new),
    }


def incremental_main() -> None:
    args = [a for a in sys.argv[1:] if a != "--incremental"]
    sf_dirs = args if args else INCR_SFS

    import shutil

    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.session import get_spark
    import __spark_entry__ as entrymod  # noqa: F401 — session tuning

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # UI on: the REST status API is the work-metric source (_work_since);
    # retainedStages raised so no single run's stages evict mid-measure
    spark = get_spark(
        "incr-curve",
        cpus=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
        },
    )

    store_root = "/tmp/spark_graft_incr"
    shutil.rmtree(store_root, ignore_errors=True)

    def force(df) -> None:
        if df is None:  # side-effecting thunk (log-store append) already ran
            return
        df.write.format("noop").mode("overwrite").save()

    def reset() -> None:
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def store(df, name: str):
        path = os.path.join(store_root, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def timed(thunk) -> float:
        best = float("inf")
        for _ in range(2):  # min-of-2 unconditionally: slopes ride on it
            reset()
            t0 = time.perf_counter()
            force(thunk())
            best = min(best, time.perf_counter() - t0)
        return best

    def tbl(sf_dir: str, name: str):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    # per family: setup(sf_dir, tag) -> (incr_thunk, full_thunk)
    def fam_cc_update(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.components import (
            connected_components_star,
            incremental_components_update,
        )
        from pyspark.sql import Window

        orders = tbl(sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        edges = store(
            orders.select(
                F.col("o_orderkey").alias("src"),
                F.lead("o_orderkey").over(w).alias("dst"),
            ).where(F.col("dst").isNotNull()),
            f"cc_edges_{tag}",
        )
        labels = store(
            connected_components_star(edges, "src", "dst", canonical_edges=True),
            f"cc_labels_{tag}",
        )
        # fixed delta: 100 new edges chaining the 200 smallest node ids
        ids = [r[0] for r in labels.select("node").orderBy("node").limit(200).collect()]
        delta = spark.createDataFrame(
            [(ids[2 * i], ids[2 * i + 1]) for i in range(100)], "src long, dst long"
        )
        return (
            lambda: incremental_components_update(labels, delta, "src", "dst"),
            lambda: connected_components_star(
                edges.unionByName(delta), "src", "dst"
            ),
        )

    def fam_cc_delete(sf_dir, tag):
        """Measures the PRODUCTION layout (r13): the stored edge table
        is component-annotated and partitioned by component id, so the
        affected-component rescan partition-prunes to the touched
        components' files (the canonical_col path the
        cc_incremental_delete gate plan-audits). An unannotated table
        instead semi-joins the full edge set per round — the r13
        harness measured that worst case at 39x incremental shuffle
        growth, exactly the gap the layout exists to close."""
        from bgg_data_warehouse_spark.operators.components import (
            connected_components_star,
            incremental_components_delete,
        )
        from pyspark.sql import Window

        orders = tbl(sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        edges0 = orders.select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        ).where(F.col("dst").isNotNull()).localCheckpoint(eager=True)
        labels = store(
            connected_components_star(edges0, "src", "dst", canonical_edges=True),
            f"ccd_labels_{tag}",
        )
        # component-annotated, comp-partitioned edge storage
        ann_path = os.path.join(store_root, f"ccd_edges_{tag}")
        edges0.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).withColumnRenamed("canonical", "comp").write.mode(
            "overwrite"
        ).partitionBy("comp").parquet(ann_path)
        edges = spark.read.parquet(ann_path)
        victim = store(
            edges.select("src", "dst").orderBy("src", "dst").limit(50),
            f"ccd_victim_{tag}",
        )
        survivors = edges0.join(victim, ["src", "dst"], "left_anti")
        return (
            lambda: incremental_components_delete(
                labels, edges, victim, "src", "dst", canonical_col="comp"
            ),
            lambda: connected_components_star(survivors, "src", "dst"),
        )

    def fam_postings(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.inverted_index import (
            inverted_postings,
            update_postings,
        )

        docs = tbl(sf_dir, "documents")
        base = store(inverted_postings(docs, "doc_id", "text"), f"post_{tag}")
        delta = store(docs.orderBy("doc_id").limit(50), f"post_delta_{tag}")
        dels = store(
            docs.orderBy(F.col("doc_id").desc()).limit(25).select("doc_id"),
            f"post_dels_{tag}",
        )
        return (
            lambda: update_postings(base, delta, "doc_id", "text", deleted_ids=dels),
            lambda: inverted_postings(docs, "doc_id", "text"),
        )

    def fam_postings_logged(sf_dir, tag):
        """The r13 log-store answer to the snapshot maintainer's
        index-sized floor: one epoch lands as a GENERATION — the append
        neither reads nor writes the base index, so BOTH its read and
        write volume are delta-sized at any base size (vs fam_postings,
        whose update reads O(index) to rewrite the snapshot)."""
        from bgg_data_warehouse_spark.log_store import (
            append_log_delta,
            init_log_store,
        )
        from bgg_data_warehouse_spark.operators.inverted_index import (
            inverted_postings,
        )

        docs = tbl(sf_dir, "documents")
        name = f"plog_{tag}"
        init_log_store(inverted_postings(docs, "doc_id", "text"), store_root, name)
        delta = store(docs.orderBy("doc_id").limit(50), f"plog_delta_{tag}")
        dels = store(
            docs.orderBy(F.col("doc_id").desc()).limit(25).select("doc_id"),
            f"plog_dels_{tag}",
        )
        return (
            lambda: append_log_delta(
                store_root,
                name,
                inverted_postings(delta, "doc_id", "text"),
                "doc",
                tombstones=dels,
            )
            and None,
            lambda: inverted_postings(docs, "doc_id", "text"),
        )

    def fam_minhash(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.dedup import (
            incremental_minhash_pairs,
            minhash_lsh_pairs,
            minhash_sketch,
        )

        docs = tbl(sf_dir, "documents")
        batch_ids = [
            r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(50).collect()
        ]
        batch_docs = store(
            docs.where(F.col("doc_id").isin(batch_ids)), f"mh_batch_{tag}"
        )
        index = store(
            minhash_sketch(
                docs.where(~F.col("doc_id").isin(batch_ids)),
                "doc_id",
                "text",
                shingle_k=1,
                num_hashes=48,
            ),
            f"mh_index_{tag}",
        )
        return (
            lambda: incremental_minhash_pairs(
                index,
                minhash_sketch(
                    batch_docs, "doc_id", "text", shingle_k=1, num_hashes=48
                ),
                num_hashes=48,
                bands=2,
                jaccard_threshold=0.97,
            ),
            lambda: minhash_lsh_pairs(
                docs,
                "doc_id",
                "text",
                shingle_k=1,
                num_hashes=48,
                bands=2,
                jaccard_threshold=0.97,
            ),
        )

    def fam_minhash_delete(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.dedup import (
            minhash_sketch,
            update_minhash_index,
        )

        docs = tbl(sf_dir, "documents")
        conf = dict(shingle_k=1, num_hashes=48)
        index = store(
            minhash_sketch(docs, "doc_id", "text", **conf), f"mhd_index_{tag}"
        )
        delta = store(docs.orderBy("doc_id").limit(50), f"mhd_delta_{tag}")
        dels = store(
            docs.orderBy(F.col("doc_id").desc()).limit(25).select("doc_id"),
            f"mhd_dels_{tag}",
        )
        final = docs.join(dels, "doc_id", "left_anti")
        return (
            lambda: update_minhash_index(
                index, delta, "doc_id", "text", deleted_ids=dels, **conf
            ),
            lambda: minhash_sketch(final, "doc_id", "text", **conf),
        )

    def fam_merkle(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.merkle import (
            merkle_tree,
            merkle_update,
        )

        li = tbl(sf_dir, "lineitem")
        leaves_df = li.groupBy(
            F.pmod(F.xxhash64("l_orderkey"), F.lit(256)).alias("bucket")
        ).agg(
            # pmod before sum keeps the ANSI-mode long sum overflow-free
            # at any row count that fits this harness
            F.sum(
                F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(1_000_000_007))
            ).alias("checksum"),
            F.count("*").alias("n_rows"),
        )
        leaves = store(leaves_df, f"mk_leaves_{tag}")
        tree = store(merkle_tree(leaves, 256), f"mk_tree_{tag}")
        new_leaf = store(
            leaves.where(F.col("bucket") == 3).select(
                (F.col("checksum") + 1).alias("checksum"), "n_rows"
            ),
            f"mk_new_{tag}",
        )
        return (
            lambda: merkle_update(tree, new_leaf, 3, 256),
            lambda: merkle_tree(leaves_df, 256),
        )

    def fam_mv(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.merge import refresh_additive_mv

        orders = tbl(sf_dir, "orders")
        cust = tbl(sf_dir, "customer").select("c_custkey", "c_mktsegment")

        def mv_agg(df):
            return (
                df.join(F.broadcast(cust), df["o_custkey"] == cust["c_custkey"])
                .groupBy(
                    F.col("c_mktsegment").alias("seg"),
                    F.date_trunc("month", F.col("o_orderdate")).alias("month"),
                )
                .agg(
                    F.count("*").alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                        "rev_exact"
                    ),
                )
            )

        delta_rows = store(orders.orderBy("o_orderkey").limit(1000), f"mv_delta_{tag}")
        prior = store(mv_agg(orders), f"mv_prior_{tag}")
        return (
            lambda: refresh_additive_mv(
                prior,
                mv_agg(delta_rows),
                keys=["seg", "month"],
                sum_cols=["n_orders", "rev_exact"],
            ),
            lambda: mv_agg(orders),
        )

    def fam_neighbors(sf_dir, tag):
        from bgg_data_warehouse_spark.operators.band_join import (
            banded_cosine_pairs,
            incremental_neighbors,
        )
        from bgg_data_warehouse_spark.operators.latest import topk_per_key

        emb = tbl(sf_dir, "embeddings")
        delta_ids = [
            r[0]
            for r in emb.where(F.col("label") == 9)
            .select("vec_id")
            .orderBy("vec_id")
            .limit(10)
            .collect()
        ]
        base = store(emb.where(~F.col("vec_id").isin(delta_ids)), f"nb_base_{tag}")
        delta = store(emb.where(F.col("vec_id").isin(delta_ids)), f"nb_delta_{tag}")

        def _topk(corpus):
            return topk_per_key(
                banded_cosine_pairs(corpus, "vec_id", "label", "embedding", 1.0),
                ["s_id"],
                [F.col("cos").desc(), F.col("t_id").asc()],
                k=5,
            ).select(
                F.col("s_id").alias("query_id"),
                F.col("t_id").alias("nbr_id"),
                F.round("cos", 6).alias("cosine_sim"),
                "rank",
            )

        stored = store(_topk(base), f"nb_stored_{tag}")
        return (
            lambda: incremental_neighbors(
                stored, base, delta, "vec_id", "label", "embedding", 1.0, 5
            ),
            lambda: _topk(emb),
        )

    def fam_cdc_logged(sf_dir, tag):
        """The r13 logged CDC state store (streaming/cdc.py::
        apply_cdc_log_batch): one 50-row change epoch lands as a
        GENERATION — neither reading nor rewriting the snapshot — vs
        the full changelog replay a non-incremental consumer pays.
        Both its read and write volume should be delta-sized at any
        base size (a snapshot rewrite per epoch would be base-sized)."""
        from bgg_data_warehouse_spark.log_store import init_log_store
        from bgg_data_warehouse_spark.operators.merge import apply_changelog
        from bgg_data_warehouse_spark.streaming.cdc import apply_cdc_log_batch

        ev = tbl(sf_dir, "events")
        cust = tbl(sf_dir, "customer")
        key = (F.col("user_id") * 12 + F.col("event_id") % 12) % 1800
        chg_all = store(
            ev.select(
                key.alias("custkey"),
                "ts",
                "event_id",
                F.when(F.col("event_type") == "error", "D")
                .otherwise("U")
                .alias("op"),
                F.concat(F.lit("cdc-"), key.cast("string")).alias("name"),
                F.col("value").alias("bal"),
                F.upper("event_type").alias("seg"),
            ),
            f"cdclog_chg_{tag}",
        )
        base = store(
            cust.select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("bal"),
                F.col("c_mktsegment").alias("seg"),
            ),
            f"cdclog_base_{tag}",
        )
        name = f"cdclog_{tag}"
        init_log_store(base, store_root, name)
        batch = store(
            chg_all.orderBy("ts", "event_id").limit(50),
            f"cdclog_batch_{tag}",
        )

        def incr():
            apply_cdc_log_batch(
                batch,
                store_root,
                name,
                keys=["custkey"],
                seq_cols=["ts", "event_id"],
                auto_compact=False,
            )
            return None

        return (
            incr,
            lambda: apply_changelog(
                base, chg_all, keys=["custkey"], seq_cols=["ts", "event_id"]
            ),
        )

    def fam_cc_logged(sf_dir, tag):
        """The r14 log-structured components maintainer
        (io.maintain_components_log): one 100-edge addition epoch lands
        as a change-set generation of the paired labels+edges store —
        vs the full star-CC recompute. The snapshot maintainer's twin
        (fam_cc_update) reads the labels but ends in a labels-sized
        staged rewrite; this one's write is change-set-sized."""
        from bgg_data_warehouse_spark.io import (
            init_components_log,
            maintain_components_log,
        )
        from bgg_data_warehouse_spark.operators.components import (
            connected_components_star,
        )
        from pyspark.sql import Window

        orders = tbl(sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        edges = store(
            orders.select(
                F.col("o_orderkey").alias("src"),
                F.lead("o_orderkey").over(w).alias("dst"),
            ).where(F.col("dst").isNotNull()),
            f"cclog_edges_{tag}",
        )
        labels = store(
            connected_components_star(edges, "src", "dst", canonical_edges=True),
            f"cclog_labels_{tag}",
        )
        name = f"cclog_{tag}"
        init_components_log(store_root, name, labels, edges, "src", "dst")
        ids = [
            r[0]
            for r in labels.select("node").orderBy("node").limit(200).collect()
        ]
        delta = store(
            spark.createDataFrame(
                [(ids[2 * i], ids[2 * i + 1]) for i in range(100)],
                "src long, dst long",
            ),
            f"cclog_delta_{tag}",
        )

        def incr():
            maintain_components_log(
                spark, store_root, name, delta, "src", "dst",
                auto_compact=False,
            )
            return None

        return (
            incr,
            lambda: connected_components_star(
                edges.unionByName(delta), "src", "dst"
            ),
        )

    def fam_cc_logged_delete_pruned(sf_dir, tag):
        """r14 VERDICT #4: the SAME delete epoch as
        cc_logged_delete_epoch, but on a store folded through
        compact_components_log — the edges base carries the fresh
        _comp annotation and both parts are range-clustered by
        component, so the delete maintainer's canonical_col path
        reaches edges AND members via literal IN-filters that parquet
        row-group stats prune. The labels-probe read-rows slope this
        family reports is the number the unannotated twin's honest
        33-91x slope should fall to."""
        from bgg_data_warehouse_spark.io import (
            compact_components_log,
            init_components_log,
            maintain_components_log,
        )
        from bgg_data_warehouse_spark.operators.components import (
            connected_components_star,
        )
        from pyspark.sql import Window

        orders = tbl(sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        edges = store(
            orders.select(
                F.col("o_orderkey").alias("src"),
                F.lead("o_orderkey").over(w).alias("dst"),
            ).where(F.col("dst").isNotNull()),
            f"ccldp_edges_{tag}",
        )
        labels = store(
            connected_components_star(edges, "src", "dst", canonical_edges=True),
            f"ccldp_labels_{tag}",
        )
        name = f"ccldp_{tag}"
        init_components_log(store_root, name, labels, edges, "src", "dst")
        # one tiny add epoch, then fold WITH annotation so the delete
        # epoch below lands on a freshly-stamped, fully-folded store
        mx = edges.agg(F.max("src")).first()[0]
        seed = spark.createDataFrame(
            [(mx + 1, mx + 2)], "src long, dst long"
        )
        maintain_components_log(
            spark, store_root, name, seed, "src", "dst", auto_compact=False
        )
        compact_components_log(spark, store_root, name, "src", "dst")
        victim = store(
            edges.select("src", "dst").orderBy("src", "dst").limit(50),
            f"ccldp_victim_{tag}",
        )
        survivors = edges.join(victim, ["src", "dst"], "left_anti")

        def incr():
            # measured state: fully folded + annotated. The append the
            # epoch itself lands is removed after each call so every
            # timing/work pass sees the same folded store.
            import shutil as _sh

            from bgg_data_warehouse_spark.log_store import (
                _delta_dirs,
                _store_path,
            )

            spath = _store_path(store_root, name)
            for g in _delta_dirs(spath, committed=True):
                _sh.rmtree(g, ignore_errors=True)
            maintain_components_log(
                spark, store_root, name, victim, "src", "dst",
                deleted=True, auto_compact=False,
            )
            return None

        return (
            incr,
            lambda: connected_components_star(survivors, "src", "dst"),
        )

    def fam_cc_logged_delete(sf_dir, tag):
        """Deletion epoch of the log-structured components maintainer:
        50 deleted edges land as label-change-set rows + isolated-node
        and edge tombstones in ONE generation, vs the full star-CC
        recompute on the post-delete edge set. The read side pays the
        semi-join localization the maintainer's docstring admits when
        the store carries uncompacted generations; the
        cc_logged_delete_pruned family measures the annotated folded
        state. The write side is the change set."""
        from bgg_data_warehouse_spark.io import (
            init_components_log,
            maintain_components_log,
        )
        from bgg_data_warehouse_spark.operators.components import (
            connected_components_star,
        )
        from pyspark.sql import Window

        orders = tbl(sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        edges = store(
            orders.select(
                F.col("o_orderkey").alias("src"),
                F.lead("o_orderkey").over(w).alias("dst"),
            ).where(F.col("dst").isNotNull()),
            f"ccld_edges_{tag}",
        )
        labels = store(
            connected_components_star(edges, "src", "dst", canonical_edges=True),
            f"ccld_labels_{tag}",
        )
        name = f"ccld_{tag}"
        init_components_log(store_root, name, labels, edges, "src", "dst")
        victim = store(
            edges.select("src", "dst").orderBy("src", "dst").limit(50),
            f"ccld_victim_{tag}",
        )
        survivors = edges.join(victim, ["src", "dst"], "left_anti")

        def incr():
            maintain_components_log(
                spark, store_root, name, victim, "src", "dst",
                deleted=True, auto_compact=False,
            )
            return None

        return (
            incr,
            lambda: connected_components_star(survivors, "src", "dst"),
        )

    def fam_mv_logged(sf_dir, tag):
        """Logged additive-MV epoch (io.refresh_additive_mv_logged,
        r15): a fixed ~1000-order delta merges with the stored partials
        of its TOUCHED keys only — the prior read is a literal key
        IN-probe (row-group prunable on a key-clustered base), the
        write one replace-by-key generation — vs the full recompute.
        Closes the MV family's snapshot-rewrite floor the same way the
        loader families close S6/S7's."""
        from bgg_data_warehouse_spark.io import refresh_additive_mv_logged
        from bgg_data_warehouse_spark.log_store import init_log_store

        orders = tbl(sf_dir, "orders")

        def agg(df):
            return df.groupBy(F.col("o_custkey").alias("k")).agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "total"
                ),
                F.count(F.lit(1)).alias("n"),
            )

        name = f"mvlog_{tag}"
        # fixed absolute delta: the 1000 lowest-orderkey orders; the
        # rest seed the base, clustered by key at init so the literal
        # prior probe has granularity to prune against
        from bgg_data_warehouse_spark.io import key_clustered_layout

        low = store(
            orders.orderBy("o_orderkey").limit(1000), f"mvlog_low_{tag}"
        )
        base = orders.join(
            low.select("o_orderkey"), "o_orderkey", "left_anti"
        )
        init_log_store(
            key_clustered_layout(spark, ["k"])(agg(base)), store_root, name
        )
        delta = store(agg(low), f"mvlog_delta_{tag}")

        def incr():
            refresh_additive_mv_logged(
                spark, delta, store_root, name, ["k"], ["total"],
                count_cols=["n"], auto_compact=False,
            )
            return None

        return (incr, lambda: agg(orders))

    def fam_loader_dim_logged(sf_dir, tag):
        """S6's logged twin (io.merge_insert_missing_logged, r14
        VERDICT #1): one insert-if-absent batch appends ONLY its
        survivors as a generation — per-batch WRITE volume is
        survivor-sized at every base size, where the snapshot wrapper
        (the 'full' twin here: the same merge read + full-table
        rewrite it stages per call) writes O(table). The one
        corpus-sized op the logged path keeps is the key-projection
        read behind the broadcast anti — visible as read_rows slope,
        bounded as a column-pruned scan, never shuffled."""
        from bgg_data_warehouse_spark.io import merge_insert_missing_logged
        from bgg_data_warehouse_spark.log_store import init_log_store
        from bgg_data_warehouse_spark.operators.merge import (
            merge_insert_missing,
        )

        cust = tbl(sf_dir, "customer")
        base = store(
            cust.select(
                F.col("c_custkey").alias("k"),
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("bal"),
            ),
            f"ldim_base_{tag}",
        )
        name = f"ldim_{tag}"
        # key-clustered base (the compaction layout, applied at init):
        # the literal present-key probe prunes to the batch's row
        # groups instead of scanning the key projection corpus-wide
        from bgg_data_warehouse_spark.io import key_clustered_layout

        init_log_store(
            key_clustered_layout(spark, ["k"])(base), store_root, name
        )
        mx = base.agg(F.max("k")).first()[0]
        # fixed delta: 100 rows — half re-send existing keys (must be
        # ignored), half are new keys (the survivors). Insert-if-absent
        # is idempotent per batch, so repeated timing calls each get a
        # FRESH pre-stored batch (disjoint new-key ranges) — otherwise
        # every call after the first appends nothing and the measured
        # write volume is zero instead of survivor-sized.
        batches = [
            store(
                spark.createDataFrame(
                    [
                        (
                            (i // 2 + 1)
                            if i % 2 == 0
                            else mx + 1 + c * 1000 + i,
                            f"n{i}",
                            float(i),
                        )
                        for i in range(100)
                    ],
                    "k long, name string, bal double",
                ),
                f"ldim_batch_{tag}_{c}",
            )
            for c in range(8)
        ]
        calls = iter(range(len(batches)))

        def incr():
            merge_insert_missing_logged(
                spark,
                batches[next(calls)],
                store_root,
                name,
                ["k"],
                auto_compact=False,
            )
            return None

        def full():
            # the snapshot wrapper's shape: merge plan + staged rewrite
            merged = merge_insert_missing(base, batches[0], ["k"])
            merged.write.mode("overwrite").parquet(
                os.path.join(store_root, f"ldim_full_out_{tag}")
            )
            return None

        return (incr, full)

    def fam_loader_bridge_logged(sf_dir, tag):
        """S7's logged twin (io.delete_insert_logged, r14 VERDICT #1):
        a refresh batch is a BARE generation append — the store's
        replace-by-key merge IS delete+insert, so per-batch read AND
        write volume are batch-sized at every base size. The 'full'
        twin is the snapshot wrapper's shape (broadcast-anti merge +
        full-table rewrite) whose write volume is O(table)."""
        from bgg_data_warehouse_spark.io import delete_insert_logged
        from bgg_data_warehouse_spark.log_store import init_log_store
        from bgg_data_warehouse_spark.operators.merge import delete_insert

        orders = tbl(sf_dir, "orders")
        base = store(
            orders.select(
                F.col("o_custkey").alias("k"),
                F.col("o_orderkey").alias("item"),
                F.col("o_totalprice").alias("qty"),
            ),
            f"lbrg_base_{tag}",
        )
        name = f"lbrg_{tag}"
        init_log_store(base, store_root, name)
        keys = [
            r[0]
            for r in base.select("k").distinct().orderBy("k").limit(20).collect()
        ]
        # fixed delta: 20 refreshed keys x 5 replacement rows each
        batch = store(
            spark.createDataFrame(
                [(k, i, float(i)) for i, k in enumerate(keys * 5)],
                "k long, item long, qty double",
            ),
            f"lbrg_batch_{tag}",
        )

        def incr():
            delete_insert_logged(
                spark, batch, store_root, name, ["k"], auto_compact=False
            )
            return None

        def full():
            delete_insert(base, batch, ["k"]).write.mode("overwrite").parquet(
                os.path.join(store_root, f"lbrg_full_out_{tag}")
            )
            return None

        return (incr, full)

    families = {
        "cc_incremental_update": fam_cc_update,
        "cc_incremental_delete": fam_cc_delete,
        "cc_logged_epoch": fam_cc_logged,
        "cc_logged_delete_epoch": fam_cc_logged_delete,
        "cc_logged_delete_pruned": fam_cc_logged_delete_pruned,
        "cdc_logged_epoch": fam_cdc_logged,
        "inverted_index_incremental": fam_postings,
        "inverted_index_logged_append": fam_postings_logged,
        "dedup_minhash_incremental": fam_minhash,
        "dedup_minhash_delete": fam_minhash_delete,
        "merkle_incremental_update": fam_merkle,
        "mv_incremental_refresh": fam_mv,
        "neighbors_incremental": fam_neighbors,
        "loader_dim_logged": fam_loader_dim_logged,
        "loader_bridge_logged": fam_loader_bridge_logged,
        "mv_logged_refresh": fam_mv_logged,
    }

    def work(thunk) -> dict[str, int]:
        # one untimed metrics pass: executor-reported read/shuffle
        # volume for exactly this run (cache cleared first, so the run
        # actually reads its inputs)
        reset()
        mark = _max_stage_id(spark)
        force(thunk())
        return _work_since(spark, mark)

    only = os.environ.get("SPARK_GRAFT_FAMILIES")
    if only:
        names = only.split(",")
        unknown = [n for n in names if n not in families]
        if unknown:
            raise SystemExit(f"unknown families: {unknown}")
        families = {n: families[n] for n in names}

    out: dict[str, dict] = {}
    for name, setup in families.items():
        rows = {}
        for sf_dir in sf_dirs:
            tag = os.path.basename(sf_dir)
            incr, full = setup(sf_dir, tag)
            force(incr())  # warm both paths + JIT before timing
            force(full())
            rows[tag] = {
                "t_incr": round(timed(incr), 3),
                "t_full": round(timed(full), 3),
                "incr_work": work(incr),
                "full_work": work(full),
            }
        tags = [os.path.basename(d) for d in sf_dirs]
        lo, hi = rows[tags[0]], rows[tags[-1]]

        def ratio(a, b):
            return round(a / b, 2) if b else None

        out[name] = {
            "by_sf": rows,
            "slope_incr": ratio(hi["t_incr"], lo["t_incr"]),
            "slope_full": ratio(hi["t_full"], lo["t_full"]),
            "speedup_at_big": ratio(hi["t_full"], hi["t_incr"]),
            # the floor-immune curves (r12 VERDICT #7): executor READ
            # volume growth across the 100x base step
            "read_slope_incr": ratio(
                hi["incr_work"]["read_bytes"], lo["incr_work"]["read_bytes"]
            ),
            "read_slope_full": ratio(
                hi["full_work"]["read_bytes"], lo["full_work"]["read_bytes"]
            ),
            # row-based slopes: the bytes counter under-reports on very
            # small scans (FS-statistics granularity), rows never do
            "rows_slope_incr": ratio(
                hi["incr_work"]["read_rows"], lo["incr_work"]["read_rows"]
            ),
            "rows_slope_full": ratio(
                hi["full_work"]["read_rows"], lo["full_work"]["read_rows"]
            ),
            "shuffle_slope_incr": ratio(
                hi["incr_work"]["shuffle_write_bytes"],
                lo["incr_work"]["shuffle_write_bytes"],
            ),
            "shuffle_slope_full": ratio(
                hi["full_work"]["shuffle_write_bytes"],
                lo["full_work"]["shuffle_write_bytes"],
            ),
            # sink-volume slopes (r14 VERDICT #1): a delta-sized WRITE
            # claim shows as a flat write_slope_incr while the snapshot
            # twin's write_slope_full tracks the base
            "write_slope_incr": ratio(
                hi["incr_work"].get("write_bytes", 0),
                lo["incr_work"].get("write_bytes", 0),
            ),
            "write_slope_full": ratio(
                hi["full_work"].get("write_bytes", 0),
                lo["full_work"].get("write_bytes", 0),
            ),
        }

    print(
        json.dumps(
            {
                "metric": "incremental_fixed_delta_curve",
                "sf_dirs": sf_dirs,
                "delta": "fixed absolute size per family (edges=100, "
                "deleted_edges=50, docs=50(+25 del), minhash_batch=50, "
                "minhash_delete=50(+25 del), merkle_leaf=1, mv_orders=1000, "
                "vectors=10)",
                "timing": "min2_all; stored state read from parquet, "
                "setup untimed",
                "work_metrics": "read_bytes/read_rows/shuffle_write_bytes "
                "summed over completed stages via the UI REST API, delta "
                "around one untimed pass per (family, sf); read slopes are "
                "floor-immune — wall-clock floors do not move bytes",
                "families": out,
            }
        )
    )


if __name__ == "__main__":
    if "--skew" in sys.argv:
        skew_main()
    elif "--incremental" in sys.argv:
        incremental_main()
    else:
        main()
