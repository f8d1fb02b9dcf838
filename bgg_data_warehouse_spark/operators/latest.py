"""Latest-row-per-key dedup and per-key top-k — the reference's core
window patterns.

W1 (latest-per-key) appears 7× in the reference — e.g.
`/root/reference/definitions/games_active.sqlx:7-43`,
`/root/reference/src/modules/response_processor.py:190-204`,
`/root/reference/definitions/bgg_predictions.sqlx:36,49`. W3 (top-k per
group) is `/root/reference/definitions/game_neighbors.sqlx:67-93`.

Scale notes: ``row_number`` over (keys, order) is a single hash shuffle on
the keys followed by an in-partition sort — no global sort. AQE handles
skewed keys. For a 100 TB fact table this is the optimal shape (one
exchange); never ``orderBy`` globally then drop duplicates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(spec: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in spec]


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per key tuple: the first under ``order_by``.

    ``order_by`` should include a deterministic tiebreak (e.g. the PK)
    — ``collect``/hash comparisons are only stable when ROW_NUMBER is.
    """
    w = Window.partitionBy(*keys).orderBy(*_cols(order_by))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def topk_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Top-k rows per key tuple, ranked 1..k (rank column kept)."""
    w = Window.partitionBy(*keys).orderBy(*_cols(order_by))
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def validity_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """SCD type-2 derivation: turn a change/snapshot log into validity
    intervals — each version valid from its own timestamp until the next
    version's (NULL + ``is_current`` for the open latest version).

    The reference keeps daily snapshot models and re-derives
    "current" with latest-per-key (W1); validity intervals are the
    other half of that coin — the history table that answers
    point-in-time questions (and the batch twin of what the as-of join
    consumes). Same cost shape as W1: ONE hash shuffle on the keys,
    in-partition sort, a single ``lead`` — no self-join against the
    next version.

    ``order_by`` defaults to (ts, …) and must end in a deterministic
    tiebreak when versions can share a timestamp.
    """
    order = _cols(order_by) if order_by is not None else [F.col(ts_col).asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(ts_col).over(w)
    return (
        df.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull())
    )
