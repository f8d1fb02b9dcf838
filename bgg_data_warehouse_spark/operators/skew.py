"""Skew-busting salted equi-join.

A hash join shuffles both sides on the key; one hot key (a viral
document id, a null-ish default, a mega-customer) lands its entire row
population in ONE reduce task, and that task's runtime IS the stage's
runtime. Spark's AQE skew handling (``OptimizeSkewedJoin``) fixes this
at runtime for sort-merge joins by splitting oversized partitions and
replicating the matching partition of the other side — when it applies,
prefer it. It does NOT apply to cogroup/``applyInPandas`` pipelines
(state must see whole groups, so Spark will not split them), to
streaming joins, or when runtime stats are unavailable — those paths
need the skew handled IN THE PLAN.

``salted_join`` is the static-plan equivalent of what AQE does at
runtime: the skewed side's rows are spread across ``salts`` sub-keys
(a deterministic hash of the whole row, so retries re-derive the same
placement), the other side is replicated once per sub-key, and the join
key becomes (key, salt). Per-task work drops by ~``salts``× on the hot
key at the cost of ``salts``× replication of the other side — so salt
the HUGE side, replicate the MEDIUM side, and broadcast outright when
the other side is small enough (a broadcast join has no shuffle to
skew; see plans/models.py broadcast policy).

Reference parity: the reference runs on BigQuery, whose engine
re-partitions skewed stages internally; this operator is the
Spark-first expression of the same guarantee, extending SURVEY §2.3's
join family for 100 TB inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    *,
    salts: int = 16,
) -> DataFrame:
    """Equi-join ``skewed`` ⋈ ``other`` on ``on`` with the skewed side
    salted into ``salts`` sub-keys and ``other`` replicated to match.

    Row-identical to the inner ``skewed.join(other, on)`` — the salt
    only changes the partitioning (each left row still meets every
    matching right row exactly once, via its single salt replica).
    """
    if salts < 2:
        raise ValueError(f"salts must be >= 2, got {salts}")
    keys = [on] if isinstance(on, str) else list(on)
    clash = SALT_COL in skewed.columns or SALT_COL in other.columns
    if clash:
        raise ValueError(f"{SALT_COL!r} column already present")

    # Deterministic per-row salt: identical rows co-locate (harmless) but
    # task retries re-derive the same bucket, keeping lineage replayable.
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salts)
    ).cast("int")
    left = skewed.withColumn(SALT_COL, salt)
    right = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return left.join(right, on=[*keys, SALT_COL]).drop(SALT_COL)
