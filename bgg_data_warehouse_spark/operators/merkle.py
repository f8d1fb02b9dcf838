"""Merkle table commitment: O(log n)-comparable integrity hashes.

Extends the flat checksum manifest (workload.py table_checksum_manifest
— the migration-validation op) into a binary hash tree: leaf b commits
to hash-bucket b's order-independent content checksum; each parent is
md5 of its two children's hex digests in index order. Two engines (or
two copies of a 100 TB table) then agree on equality by comparing ONE
root hash, and locate a divergence by walking log2(n_leaves) levels —
instead of re-reading either table. This is the classic remote-integrity
structure (Merkle 1979) applied to warehouse tables.

Exactness: leaves are md5 over ':'-joined BIGINT renderings (bucket,
additive residue checksum mod 1e9+7, row count) — every input integer,
every hash portable — and each level is md5 over the concatenation of
child hex strings in child-index order, so the whole tree replays in
DuckDB (string_agg(h, '' ORDER BY idx) == Spark's sorted-collect
concat).

Scale shape: the ONLY data-sized work is the leaf pass — one map-side-
combinable sum per bucket (constant memory, no collect_list). The tree
above it is <= 2*n_leaves tiny rows; levels are built with log2 grouped
aggregates over that, never a driver loop over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["merkle_tree", "merkle_update", "merkle_tree_oracle_sql"]


def merkle_tree(
    leaves: DataFrame,
    n_leaves: int,
) -> DataFrame:
    """(level, idx, h) for the full tree over ``n_leaves`` (a power of
    two) leaf slots. Missing buckets become empty leaves (checksum 0,
    count 0), so the tree shape — and therefore the root — is a pure
    function of table content, not of which buckets happen to be
    occupied. A bucket outside [0, n_leaves) or duplicated raises
    (silently dropping or stacking it would let two differing tables
    share a root). Level 0 = leaves, level log2(n) = the root at
    idx 0."""
    if n_leaves < 2 or n_leaves & (n_leaves - 1):
        raise ValueError(f"n_leaves must be a power of two >= 2, got {n_leaves}")
    spark = leaves.sparkSession
    slots = spark.range(n_leaves).select(F.col("id").alias("idx"))
    # an out-of-range bucket silently vanishing from the tree would
    # make two DIFFERING tables commit to the same root — an integrity
    # primitive must refuse, so the join key itself raises per row.
    guarded_idx = F.when(
        (F.col("bucket") >= 0) & (F.col("bucket") < n_leaves),
        F.col("bucket"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"merkle_tree: bucket outside [0, {n_leaves}): "),
                F.col("bucket").cast("string"),
            )
        )
    )
    # duplicate bucket rows would stack two hashes into one slot with
    # engine-dependent concatenation order — another silent two-tables-
    # one-root hazard; the <=n_leaves-row aggregate below raises on it.
    deduped = (
        leaves.select(
            guarded_idx.alias("idx"),
            F.col("checksum").alias("_c"),
            F.col("n_rows").alias("_n"),
        )
        .groupBy("idx")
        .agg(
            F.count("*").alias("_k"),
            F.max("_c").alias("_c"),
            F.max("_n").alias("_n"),
        )
        .select(
            "idx",
            F.when(F.col("_k") == 1, F.col("_c")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("merkle_tree: duplicate bucket "),
                        F.col("idx").cast("string"),
                    )
                )
            ).alias("_c"),
            "_n",
        )
    )
    lvl = slots.join(deduped, "idx", "left").select(
        "idx",
        F.md5(
            F.concat_ws(
                ":",
                F.col("idx"),
                F.coalesce(F.col("_c"), F.lit(0)).cast("long"),
                F.coalesce(F.col("_n"), F.lit(0)).cast("long"),
            )
        ).alias("h"),
    )
    out = lvl.select(F.lit(0).cast("long").alias("level"), "idx", "h")
    level, width = 0, n_leaves
    while width > 1:
        level, width = level + 1, width // 2
        lvl = (
            lvl.groupBy(F.expr("idx div 2").alias("idx"))
            .agg(
                F.md5(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("idx", "h"))),
                            lambda x: x["h"],
                        ),
                    )
                ).alias("h")
            )
        )
        out = out.unionByName(
            lvl.select(F.lit(level).cast("long").alias("level"), "idx", "h")
        )
    return out



def merkle_update(
    tree: DataFrame,
    new_leaf: DataFrame,
    leaf_idx: int,
    n_leaves: int,
) -> DataFrame:
    """Incrementally re-commit after ONE leaf changes: recompute the
    changed leaf hash and its log2(n_leaves) ancestor path, splicing
    everything else from the existing ``tree`` unchanged — the
    maintenance mode that makes the commitment practical at 100 TB
    (re-ingesting one partition re-hashes one bucket and log n
    parents, never the table). ``new_leaf`` is a 1-row (checksum,
    n_rows) frame for slot ``leaf_idx``; returns the full updated
    (level, idx, h) tree. Correctness contract: the result is
    bit-identical to merkle_tree() over the modified leaf set — the
    gated query hashes exactly that equivalence.

    Scale shape: the path's (level, idx) pairs are STATIC given
    leaf_idx, so the whole update is one plan — a static filter pulls
    the log n sibling hashes into one collected row, one map-side fold
    re-hashes the path, and the untouched nodes pass through a static
    NOT-IN filter. No per-level joins, no data-sized work."""
    if not (0 <= leaf_idx < n_leaves):
        raise ValueError(f"leaf_idx outside [0, {n_leaves}): {leaf_idx}")
    if n_leaves < 2 or n_leaves & (n_leaves - 1):
        raise ValueError(f"n_leaves must be a power of two >= 2, got {n_leaves}")
    depth = n_leaves.bit_length() - 1
    path = [(k, leaf_idx >> k) for k in range(depth + 1)]
    sibs = [(k, (leaf_idx >> k) ^ 1) for k in range(depth)]

    def _pairs_pred(pairs):
        from functools import reduce

        return reduce(
            lambda a, b: a | b,
            [(F.col("level") == k) & (F.col("idx") == v) for k, v in pairs],
        )

    # one row: every sibling hash the path needs, keyed by level
    sib_row = tree.where(_pairs_pred(sibs)).agg(
        F.collect_list(F.struct("level", "h")).alias("sibs")
    )
    leaf_h = F.md5(
        F.concat_ws(
            ":",
            F.lit(leaf_idx),
            F.coalesce(F.col("checksum"), F.lit(0)).cast("long"),
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("long"),
        )
    )
    # fold the path upward in ONE expression: at level k the sibling is
    # the LEFT child iff the path node at k is the right child, i.e.
    # (leaf_idx >> k) % 2 = 1
    sh = "filter(sibs, s -> s.level = k)[0].h"
    cur = "element_at(acc, k + 1)"
    fold = F.expr(
        f"""aggregate(
          sequence(0, {depth - 1}),
          array(h0),
          (acc, k) -> concat(acc, array(md5(
            IF((CAST({leaf_idx} AS BIGINT) div shiftleft(1L, k)) % 2 = 1,
               concat({sh}, {cur}),
               concat({cur}, {sh}))))))"""
    )
    # cardinality guard, same fail-loudly discipline as merkle_tree's
    # duplicate-bucket check: 0 rows would splice NOTHING in after
    # `untouched` has already dropped the old path (tree silently loses
    # its root); >1 rows would duplicate every path node. Aggregating
    # to one row makes both cases a raise, not a malformed tree.
    new_leaf = new_leaf.agg(
        F.count("*").alias("_k"),
        F.max("checksum").alias("checksum"),
        F.max("n_rows").alias("n_rows"),
    ).select(
        F.when(F.col("_k") == 1, F.col("checksum"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("merkle_update: new_leaf must be exactly 1 row, got "),
                    F.col("_k").cast("string"),
                )
            )
        )
        .alias("checksum"),
        "n_rows",
    )
    path_rows = (
        new_leaf.crossJoin(F.broadcast(sib_row))
        .withColumn("h0", leaf_h)
        .withColumn("hs", fold)
        .select(
            F.explode(
                F.arrays_zip(
                    F.array(
                        *[F.lit(k).cast("long") for k, _ in path]
                    ).alias("level"),
                    F.array(
                        *[F.lit(v).cast("long") for _, v in path]
                    ).alias("idx"),
                    F.col("hs").alias("h"),
                )
            ).alias("z")
        )
        .select("z.level", "z.idx", "z.h")
    )
    untouched = tree.where(~_pairs_pred(path))
    return untouched.unionByName(path_rows)


def merkle_tree_oracle_sql(leaves_cte: str, n_leaves: int) -> str:
    """DuckDB replay of :func:`merkle_tree`. ``leaves_cte`` must
    produce (bucket, checksum, n_rows); emits ``tree`` as (level, idx,
    h) — the caller appends its own SELECT."""
    if n_leaves < 2 or n_leaves & (n_leaves - 1):
        raise ValueError(f"n_leaves must be a power of two >= 2, got {n_leaves}")
    parts = [
        f"leaves0 AS ({leaves_cte})",
        f"""l0 AS (
      SELECT g.idx,
             md5(CAST(g.idx AS VARCHAR) || ':' ||
                 CAST(COALESCE(l.checksum, 0) AS VARCHAR) || ':' ||
                 CAST(COALESCE(l.n_rows, 0) AS VARCHAR)) AS h
      FROM (SELECT CAST(u.i AS BIGINT) AS idx
            FROM unnest(generate_series(0, {n_leaves - 1})) AS u(i)) g
      LEFT JOIN leaves0 l ON l.bucket = g.idx)""",
    ]
    level, width = 0, n_leaves
    union = [f"SELECT CAST(0 AS BIGINT) AS level, idx, h FROM l0"]
    while width > 1:
        level, width = level + 1, width // 2
        parts.append(
            f"""l{level} AS (
      SELECT idx // 2 AS idx, md5(string_agg(h, '' ORDER BY idx)) AS h
      FROM l{level - 1} GROUP BY 1)"""
        )
        union.append(
            f"SELECT CAST({level} AS BIGINT) AS level, idx, h FROM l{level}"
        )
    parts.append("tree AS (" + "\n      UNION ALL ".join(union) + ")")
    return "WITH " + ",\n    ".join(parts)
