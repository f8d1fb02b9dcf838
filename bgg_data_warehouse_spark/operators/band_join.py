"""Banded self-join — the k-NN candidate generator.

Reference: `/root/reference/definitions/game_neighbors.sqlx:53-65` joins
candidates to candidates on ``t.complexity BETWEEN s.complexity - band AND
s.complexity + band`` (J7). A naive theta-join is a broadcast
nested-loop — O(n²) compares, exactly the shape that failed in the
reference at 127k rows ("unfiltered all-pairs k-NN fails", BASELINE.md).

Scale-safe plan: bucket the band column into width-``band`` bins; a row
can only match rows in its own or adjacent bins, so explode each probe row
to 3 bucket ids and equi-join on the bucket — Catalyst executes a hash
shuffle join, compares only within ±1 bin, and the residual BETWEEN filter
restores exact semantics. Cost drops from O(n²) to O(n · avg_bin_pop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import pair_scores


def banded_cosine_pairs(
    df: DataFrame,
    id_col: str,
    band_col: str,
    vec_col: str,
    band: float,
    probe_df: DataFrame | None = None,
) -> DataFrame:
    """(s_id, t_id, cos) for all band-eligible pairs — cogrouped matmul.

    The row-per-pair formulation ships both embeddings through the
    exchange for EVERY pair (O(pairs·dim) bytes) and pays per-row Python
    conversion in any UDF. Cogrouping by band bucket ships each vector
    once per bucket (O(n·dim)), and the pair cosines for a bucket become
    dense matrix arithmetic in one Arrow batch.

    Bit-stability: the dot/norm accumulators loop over DIMENSIONS
    sequentially (vectorized across the pair matrix), preserving the
    left-associated IEEE summation of a per-row fold — results match the
    Catalyst fold and DuckDB's list_dot_product exactly, so oracle hash
    checks still pass.

    Probe rows are exploded to their own + 2 adjacent buckets; build rows
    stay in one bucket, so each eligible pair appears in exactly one
    cogroup. The residual |Δband| <= band filter restores exact semantics.

    The probe side is salted into 16 blocks so each cogroup is a bounded
    sub-block of the bucket's pair matrix. Without it, parallelism is
    capped by BAND CARDINALITY (a 10-bucket corpus uses 10 tasks no matter
    how many executors exist) and one bucket's full matrix must fit in a
    single Arrow worker — measured 4× faster at 20k vectors with blocking.
    Build rows replicate into every block of their bucket (small: the
    build side ships once per block, the probe side still ships once).

    ``probe_df`` makes the join ASYMMETRIC: pairs (s, t) with s drawn
    from ``probe_df`` and t from ``df`` — the incremental-refresh shape
    (``incremental_neighbors``), where only a delta-scoped probe set
    re-enters the join. The build side is then SCOPED to the probe's
    reachable buckets first (one broadcast semi on the ≤3×|probe
    bands| bucket set — a candidate t must sit within ±1 bucket of
    some probe row, so rows outside can never pair): without it the
    whole corpus ships through the cogroup exchange 16
    times even for a one-bucket delta — measured 7.2 MB -> delta-sized
    shuffle on the band-sparse epoch harness. Defaults to ``df`` (the
    self-join, where every bucket is reachable and scoping would be a
    no-op).
    """
    import numpy as np
    import pandas as pd

    bucket = F.floor(F.col(band_col) / F.lit(band)).cast("long")
    probe = (df if probe_df is None else probe_df).select(
        F.col(id_col).alias("s_id"),
        F.col(band_col).alias("s_band"),
        F.col(vec_col).alias("s_vec"),
        F.explode(F.array(*[(bucket + off) for off in (-1, 0, 1)])).alias("_bucket"),
    ).withColumn("_block", F.pmod(F.xxhash64("s_id"), F.lit(16)))
    build_src = df
    if probe_df is not None:
        reachable = probe_df.select(
            F.explode(F.array(*[(bucket + off) for off in (-1, 0, 1)])).alias(
                "_bucket"
            )
        ).distinct()
        build_src = df.withColumn("_bucket", bucket).join(
            F.broadcast(reachable), "_bucket", "left_semi"
        ).drop("_bucket")
    build = build_src.select(
        F.col(id_col).alias("t_id"),
        F.col(band_col).alias("t_band"),
        F.col(vec_col).alias("t_vec"),
        bucket.alias("_bucket"),
    ).withColumn(
        # LONG on purpose: the probe side's block key is a long (pmod of
        # xxhash64) and cogrouped applyInPandas silently MISALIGNS groups
        # when the two sides' grouping key types differ (int sequence vs
        # long pmod lost ~80% of pairs) — it does not cast or error
        "_block",
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(15).cast("long"))),
    )

    def pair_block(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"s_id": [], "t_id": [], "cos": []})
        S = np.stack([np.asarray(v, dtype=np.float64) for v in left["s_vec"]])
        T = np.stack([np.asarray(v, dtype=np.float64) for v in right["t_vec"]])
        cos = pair_scores(S[:, None, :], T[None, :, :])  # every (s, t) pair
        s_band = left["s_band"].to_numpy()
        t_band = right["t_band"].to_numpy()
        s_id = left["s_id"].to_numpy()
        t_id = right["t_id"].to_numpy()
        ok = (np.abs(s_band[:, None] - t_band[None, :]) <= band) & (
            s_id[:, None] != t_id[None, :]
        )
        si, ti = np.nonzero(ok)
        return pd.DataFrame({"s_id": s_id[si], "t_id": t_id[ti], "cos": cos[si, ti]})

    return (
        probe.groupby("_bucket", "_block")
        .cogroup(build.groupby("_bucket", "_block"))
        .applyInPandas(pair_block, schema="s_id long, t_id long, cos double")
    )


def incremental_neighbors(
    stored: DataFrame,
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    band_col: str,
    vec_col: str,
    band: float,
    k: int,
    *,
    deleted_ids: DataFrame | None = None,
) -> DataFrame:
    """Incremental refresh of a precomputed k-NN neighbors table (r11
    VERDICT #5 — the serving-layer twin of
    ``operators.components.incremental_components_update`` and the
    index maintainers' upsert/delete contract; the reference instead
    rebuilds its neighbors table fully,
    `/root/reference/definitions/game_neighbors.sqlx:16`, 13.1 s for
    17,258 games per BASELINE.md).

    ``stored`` is the (query_id, nbr_id, cosine_sim, rank) table built
    from ``base``; ``delta`` is the arriving vector batch as UPSERTS —
    new ids appear, existing ids REPLACE their base vector (a
    re-embedded document, possibly in a different band); ``deleted_ids``
    tombstones vectors, and DELETION WINS on conflict, matching
    ``update_postings``/``update_minhash_index``. A base query's top-k
    can only change if a touched vector enters OR LEAVES its candidate
    band, so:

    1. affected scoping (J6): band-bucket ids (own ±1, the exact cover
       of |Δband| <= band) of BOTH the touched vectors' OLD positions
       (their base rows — a vanished or moved neighbor can demote out
       of a stored top-k) and the upserts' NEW positions are
       distinct-collected into a delta-bounded frame and BROADCAST;
       surviving base rows semi-join on their bucket — one map-side
       pass over the corpus, no shuffle;
    2. re-rank (J7): probe = affected ∪ upserts re-enters the banded
       cogroup matmul ASYMMETRICALLY against the post-update corpus
       build side (``banded_cosine_pairs(probe_df=...)``) — untouched
       queries' vectors are never probed, pinned by
       tests/test_plan_audit.py::test_neighbors_incremental_*;
    3. pass-through: stored rows of unaffected queries are kept via one
       broadcast LEFT-ANTI over (probed ids ∪ removed ids) — never
       recomputed, never shuffled. Correctness of the pass-through: if
       a touched vector sat in a stored top-k of query q, then q was
       within band of its OLD position, so q is in the affected set by
       step 1 — no stale neighbor can survive.

    Returns the refreshed neighbors table — hash-gated equal to a full
    rebuild on the post-update corpus by the ``neighbors_incremental``
    gate (adds + re-embeds + deletes in one batch), and law-tested for
    arbitrary upsert/delete overlap in tests/test_properties.py.

    Scale shape: cost is (one broadcast semi over the corpus) + (band
    join sized by the touched buckets' population) + (broadcast anti
    over the stored table). When the touched buckets cover the whole
    band space the probe degrades to the full corpus — as it must,
    since every query is then genuinely affected; the win is the
    common case where arrivals cluster in few bands.
    """
    recomputed, touched = incremental_neighbors_delta(
        base, delta, id_col, band_col, vec_col, band, k,
        deleted_ids=deleted_ids,
    )
    kept = stored.join(F.broadcast(touched), "query_id", "left_anti")
    return kept.unionByName(recomputed)


def incremental_neighbors_delta(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    band_col: str,
    vec_col: str,
    band: float,
    k: int,
    *,
    deleted_ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The CHANGE SET of an incremental neighbors refresh — steps 1-2 of
    :func:`incremental_neighbors` without materializing the full
    refreshed table: returns ``(recomputed, touched)`` where
    ``recomputed`` is the re-ranked rows for every affected ∪ upserted
    query and ``touched`` the single-column (query_id) frame of every
    query whose stored rows are stale (probed ∪ removed). The refreshed
    table is ``stored ANTI touched ∪ recomputed`` — which
    :func:`incremental_neighbors` does eagerly for the snapshot store,
    and which the log-structured pair store defers to read time by
    landing exactly these two frames as a generation (delta-sized
    write: nothing here is corpus- or index-sized in the band-sparse
    case)."""
    from .latest import topk_per_key

    delta_ids = delta.select(id_col).distinct()
    removed = delta_ids
    if deleted_ids is not None:
        tomb = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias(id_col)
        ).distinct()
        removed = removed.unionByName(tomb)
        # deletion precedence: an id both upserted and deleted ends absent
        delta = delta.join(F.broadcast(tomb), id_col, "left_anti")
    removed = removed.distinct()
    base_kept = base.join(F.broadcast(removed), id_col, "left_anti")
    corpus = base_kept.unionByName(delta.select(*base.columns))

    bucket = F.floor(F.col(band_col) / F.lit(band)).cast("long")
    # old positions of every touched id (re-embeds + deletes) + new
    # positions of the surviving upserts
    touched_positions = base.join(
        F.broadcast(removed), id_col, "left_semi"
    ).select(band_col).unionByName(delta.select(band_col))
    touched_buckets = (
        touched_positions.select(
            F.explode(
                F.array(bucket - 1, bucket, bucket + 1)
            ).alias("_bkt")
        )
        .distinct()
    )
    affected = base_kept.withColumn("_bkt", bucket).join(
        F.broadcast(touched_buckets), "_bkt", "left_semi"
    ).drop("_bkt")
    probe = affected.unionByName(delta.select(*base.columns))

    pairs = banded_cosine_pairs(
        corpus, id_col, band_col, vec_col, band, probe_df=probe
    )
    recomputed = topk_per_key(
        pairs, ["s_id"], [F.col("cos").desc(), F.col("t_id").asc()], k=k
    ).select(
        F.col("s_id").alias("query_id"),
        F.col("t_id").alias("nbr_id"),
        F.round("cos", 6).alias("cosine_sim"),
        "rank",
    )
    touched = (
        probe.select(F.col(id_col).alias("query_id"))
        .unionByName(removed.select(F.col(id_col).alias("query_id")))
        .distinct()
    )
    return recomputed, touched
