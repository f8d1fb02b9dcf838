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

__all__ = ["two_sample_cum_counts", "ks_statistic"]


def two_sample_cum_counts(
    df: DataFrame,
    value_col: str,
    a_flag: Column,
    b_flag: Column,
    bucket: Column,
) -> DataFrame:
    """Per distinct ``value_col``: both samples' at-value counts
    (``ca0``/``cb0``) and inclusive cumulative counts (``ca``/``cb``)
    over ascending value order — the sufficient statistic for every
    rank/ECDF-based two-sample test.

    ``a_flag``/``b_flag`` are 0/1 integer membership expressions (a row
    may belong to neither, e.g. an unrelated event type; values seen
    ONLY by neither-rows are dropped after the combine, so they emit no
    spine row and can never surface as a KS argmax). ``bucket`` must be order-aligned with
    ``value_col`` (see :mod:`operators.prefix`).

    One shuffle groups rows to distinct values (map-side combinable);
    the two running sums ride the same bucket layout —
    per-bucket windows plus a broadcast |buckets|-row exclusive prefix,
    never a single-task global sort. The grouped relation is pinned
    with a lazy localCheckpoint before the scans: each running sum
    consumes its input on TWO branches (per-bucket window + offset
    totals) and exchange reuse does not unify them, so an unpinned
    spine would re-read the raw table four times — the pin makes the
    whole spine exactly one source scan at any scale.
    """
    g = (
        df.groupBy(value_col)
        .agg(
            F.sum(a_flag).cast("long").alias("ca0"),
            F.sum(b_flag).cast("long").alias("cb0"),
        )
        .where((F.col("ca0") > 0) | (F.col("cb0") > 0))
        .localCheckpoint(eager=False)
    )
    return running_sums(g, ["ca0", "cb0"], bucket, [value_col], out_cols=["ca", "cb"])


def ks_statistic(
    cum: DataFrame,
    value_col: str,
    *,
    at_name: str = "at_value",
) -> DataFrame:
    """One-row KS summary from a cumulative-count spine (the output of
    :func:`two_sample_cum_counts`): sample sizes, the EXACT integer fraction
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

