"""Distributed two-sample statistics: shared cumulative-count spine.

Classic two-sample tests (Kolmogorov–Smirnov, Mann–Whitney U) are
textbook single ``ORDER BY value`` window queries — the one shape that
cannot survive 100 TB on Spark (a bare ``Window.orderBy`` collapses to
one task). But both tests only need, per DISTINCT value, the cumulative
count of each sample at-or-below that value — an associative running
sum, which :mod:`operators.prefix` decomposes into the bucketed
two-pass scan that is bit-identical to the global window at any
partitioning.

This module builds that shared spine once:

    value | ca0 cb0 (counts AT the value) | ca cb (counts ≤ value)

from which

- KS:   D = max_v |ca·n_b − cb·n_a| / (n_a·n_b)   (exact rational)
- MWU:  2·U_A = Σ_v ca0·(2·(cb − cb0) + cb0)      (exact integer,
        average-rank tie handling folded into the ×2 scaling)

are plain map-side-combinable aggregates over the |distinct values|
rows. The workload gates (``ks_two_sample``, ``mannwhitney_u``) pair
this with DuckDB oracles that use the textbook global-window forms, so
the hash gate proves the distributed rewrite IS the textbook statistic.

No reference counterpart (the reference's warehouse leans on BigQuery's
internally-parallel analytic windows, e.g. the ranking patterns in
definitions/ games_features-style models); this is engine machinery for
the LLM-pipeline extensions, same family as operators/prefix.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .prefix import running_sums

__all__ = [
    "two_sample_cum_counts",
    "ks_statistic",
    "ks_from_grids",
    "mwu_from_grids",
    "MWU_Z_X1E6_SQL",
]


def two_sample_cum_counts(
    df: DataFrame,
    value_col: str,
    a_flag: Column,
    b_flag: Column,
    bucket: Column,
    *,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Per distinct ``value_col``: both samples' at-value counts
    (``ca0``/``cb0``) and inclusive cumulative counts (``ca``/``cb``)
    over ascending value order — the sufficient statistic for every
    rank/ECDF-based two-sample test.

    ``a_flag``/``b_flag`` are 0/1 integer membership expressions (a row
    may belong to neither, e.g. an unrelated event type; values seen
    ONLY by neither-rows are dropped after the combine, so they emit no
    spine row and can never surface as a KS argmax). ``bucket`` must be order-aligned with
    ``value_col`` (see :mod:`operators.prefix`); ``partition_cols``
    restarts the scan per group for stratified variants.

    One shuffle groups rows to distinct values (map-side combinable);
    the two running sums ride the same (partition, bucket) layout —
    per-bucket windows plus a broadcast |buckets|-row exclusive prefix,
    never a single-task global sort. The grouped relation is pinned
    with a lazy localCheckpoint before the scans: each running sum
    consumes its input on TWO branches (per-bucket window + offset
    totals) and exchange reuse does not unify them, so an unpinned
    spine would re-read the raw table four times — the pin makes the
    whole spine exactly one source scan at any scale.
    """
    pc = partition_cols or []
    g = (
        df.groupBy(*pc, value_col)
        .agg(
            F.sum(a_flag).cast("long").alias("ca0"),
            F.sum(b_flag).cast("long").alias("cb0"),
        )
        .where((F.col("ca0") > 0) | (F.col("cb0") > 0))
        .localCheckpoint(eager=False)
    )
    return running_sums(
        g,
        ["ca0", "cb0"],
        bucket,
        [value_col],
        partition_cols=pc,
        out_cols=["ca", "cb"],
    )


def ks_statistic(
    cum: DataFrame,
    value_col: str,
    *,
    at_name: str = "at_value",
) -> DataFrame:
    """One-row KS summary from a cumulative-count spine (the output of
    :func:`two_sample_cum_counts` or :func:`ks_from_grids`' internal
    grid spine): sample sizes, the EXACT integer fraction
    d_num/d_den = max_v |ca·n_b − cb·n_a| / (n_a·n_b), its permyriad
    rendering, and the smallest ``value_col`` attaining the max (a
    deterministic argmax tie-break).

    Sizes come from MAX(ca)/MAX(cb) — no second pass over the raw
    data. The scored frame is pinned (lazy localCheckpoint) because
    the max and the argmax both consume it; everything downstream of
    the spine is a 1-row broadcast. d_num products are BIGINT; lift to
    DECIMAL(38,0) past ~3e9 rows per side. d_permyriad already runs its
    10000*dm product in DECIMAL(38,0) (a plain BIGINT product would
    overflow at ~3e7 rows per side — 100x below d_num's bound), so the
    whole row shares the single ~3e9 headroom figure.
    """
    n = cum.agg(
        F.max("ca").cast("long").alias("n_a"),
        F.max("cb").cast("long").alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(n))
        .select(
            F.col(value_col).alias("_v"),
            F.abs(
                F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
            ).alias("dn"),
        )
        .localCheckpoint(eager=False)
    )
    m = d.agg(F.max("dn").alias("dm"))
    arg = d.join(F.broadcast(m), F.col("dn") == F.col("dm")).agg(
        F.min("_v").alias("_at")
    )
    return (
        n.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(arg))
        .selectExpr(
            "n_a",
            "n_b",
            "CAST(dm AS BIGINT) AS d_num",
            "CAST(n_a * n_b AS BIGINT) AS d_den",
            # DECIMAL(38,0) multiply: 10000*dm would overflow BIGINT as
            # soon as n_a*n_b > ~9.2e14 (~3e7 rows/side), far below
            # d_num's own ~3e9 bound — lift to decimal so BOTH share it
            "CAST(CAST(10000 AS DECIMAL(38,0)) * dm div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            " AS d_permyriad",
            f"_at AS {at_name}",
        )
    )


def ks_from_grids(
    grid_a: DataFrame,
    grid_b: DataFrame,
    *,
    bin_col: str = "bin",
    count_col: str = "n",
    at_name: str = "at_bin",
) -> DataFrame:
    """KS distance between two HISTOGRAM GRIDS (``operators/sketches.py
    histogram_sketch`` outputs) — the drift check a streaming ingest
    runs between a frozen reference window and the live merged sketch.
    Over bin-granular data the statistic is
    EXACT (a grid is just a pre-aggregated value column); over raw
    doubles it is the KS of the binned distributions — the resolution
    the sketch was built at, which is the honest streaming contract
    (bounded state can't hold every distinct double).

    Inputs are grid-sized, so every stage here is sketch-bounded:
    union + re-sum to one row per bin, the bucketed two-pass running
    sums (no single-task window even for a very fine grid), then the
    1-row summary.
    """
    cum = _grids_to_cum(grid_a, grid_b, bin_col, count_col)
    return ks_statistic(cum, "_v", at_name=at_name)


def _grids_to_cum(
    grid_a: DataFrame, grid_b: DataFrame, bin_col: str, count_col: str
) -> DataFrame:
    """Two histogram grids -> the shared two-sample cumulative spine
    (_v, ca0, cb0, ca, cb) — union + re-sum to one row per bin, then
    the bucketed two-pass running sums (no single-task window even for
    a very fine grid). The pinned spine feeds both the KS max/argmax
    pair and the MWU aggregate."""
    a = grid_a.select(
        F.col(bin_col).alias("_v"),
        F.col(count_col).cast("long").alias("ca0"),
        F.lit(0).cast("long").alias("cb0"),
    )
    b = grid_b.select(
        F.col(bin_col).alias("_v"),
        F.lit(0).cast("long").alias("ca0"),
        F.col(count_col).cast("long").alias("cb0"),
    )
    g = (
        a.unionByName(b)
        .groupBy("_v")
        .agg(
            F.sum("ca0").cast("long").alias("ca0"),
            F.sum("cb0").cast("long").alias("cb0"),
        )
    )
    return running_sums(
        g,
        ["ca0", "cb0"],
        F.floor(F.col("_v") / 1024),
        ["_v"],
        out_cols=["ca", "cb"],
    ).localCheckpoint(eager=False)


# Micro-scaled normal-approximation z for the Mann-Whitney summary —
# ONE shared expression string evaluated on identical integers by both
# engines, so even the double arithmetic is bit-reproducible. The
# workload gate (workload._MWU_Z) carries the same string; a test pins
# the two byte-identical so they cannot drift apart.
MWU_Z_X1E6_SQL = (
    "CAST(ROUND(1000000 * ((u2_a / 2.0 - CAST(n_a AS DOUBLE) * n_b / 2.0) / "
    "sqrt((CAST(n_a AS DOUBLE) * n_b / 12.0) * ((n_a + n_b + 1) - "
    "CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))"
    "))) AS BIGINT) AS z_x1e6"
)


def mwu_from_grids(
    grid_a: DataFrame,
    grid_b: DataFrame,
    *,
    bin_col: str = "bin",
    count_col: str = "n",
) -> DataFrame:
    """Mann-Whitney 2U + tie-corrected z between two HISTOGRAM GRIDS —
    the location-shift drift check that complements :func:`ks_from_grids`'
    shape test in a streaming monitor:
    KS asks "did the distribution change anywhere", MWU asks "did it
    systematically move up or down", and a binned stream answers both
    from the same sketch state. Over bin-granular data the statistic is
    exact; over raw doubles it is the MWU of the binned distributions —
    the sketch's resolution, the honest streaming contract.

    Same integer conventions as the ``mannwhitney_u`` gate (each A
    counts 2 per B below, 1 per tied B — bins ARE tie groups here),
    but the accumulations run in DECIMAL(38,0), not int64: a streamed
    sketch can pool BILLIONS of rows into one bin, where a single
    t^3 term already passes 2^63 (t > ~2.1M) — and even modest bins
    overflow the SUM long before the per-term bound (sum(t^3) <=
    max_t^2 * total_rows, so 1M-row bins cap an int64 SUM at ~9e6
    total rows). Decimal keeps every term and the sum exact through
    t ~ 4.6e12 per bin.

    z_x1e6 is the gate's shared expression with one guard the raw-data
    gate does not need: a constant stream puts ALL mass in one pooled
    bin, making tie_term = n^3 - n and the tie-corrected variance
    exactly zero — z is then undefined, so the guard emits NULL
    instead of letting 0/0's NaN cast to a silent 0 ("no shift,
    perfectly measured").

    Every stage is sketch-bounded: the shared cumulative spine is
    grid-sized and the summary is one map-side-combinable aggregate.
    """
    cum = _grids_to_cum(grid_a, grid_b, bin_col, count_col)
    dec = 'CAST({} AS DECIMAL(38,0))'
    agg = cum.agg(
        F.max("ca").cast("long").alias("n_a"),
        F.max("cb").cast("long").alias("n_b"),
        F.sum(
            F.expr(dec.format("ca0")) * (2 * (F.col("cb") - F.col("cb0")) + F.col("cb0"))
        )
        .cast("decimal(38,0)")
        .alias("u2_a"),
        F.sum(
            F.expr(dec.format("ca0 + cb0"))
            * F.expr(dec.format("ca0 + cb0"))
            * F.expr(dec.format("ca0 + cb0"))
            - (F.col("ca0") + F.col("cb0"))
        )
        .cast("decimal(38,0)")
        .alias("tie_term"),
    )
    # variance == 0 <=> one side empty (n_a*n_b factor) OR every row
    # pooled into tie groups: tie_term == (n_a+n_b)^3 - (n_a+n_b),
    # exactly. The empty-side case must be guarded SEPARATELY — with
    # one grid empty and the other spread over several bins, tie_term
    # stays below n^3-n while the n_a*n_b factor still zeroes the
    # variance, and 0/0's NaN would cast to a silent 0 z.
    guarded_z = (
        "CASE WHEN n_a = 0 OR n_b = 0"
        " OR tie_term = CAST(n_a + n_b AS DECIMAL(38,0))"
        " * (n_a + n_b - 1) * (n_a + n_b + 1)"
        " THEN CAST(NULL AS BIGINT) ELSE "
        + MWU_Z_X1E6_SQL.removesuffix(" AS z_x1e6")
        + " END AS z_x1e6"
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "u2_a",
        "CAST(CAST(2 AS DECIMAL(38,0)) * n_a * n_b - u2_a"
        " AS DECIMAL(38,0)) AS u2_b",
        "tie_term",
        guarded_z,
    )
