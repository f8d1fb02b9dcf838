"""Vector distance expressions over ``array<float|double>`` columns.

The reference relies on BigQuery's ``ML.DISTANCE(v1, v2, 'COSINE')``
(`/root/reference/definitions/game_neighbors.sqlx:59`,
`/root/reference/src/warehouse/readers/games.py:134,210`). Spark has no
array-distance builtin, so these compose ``zip_with`` + ``aggregate``
higher-order functions — pure Catalyst expressions that stay inside
whole-stage codegen (no Python UDF, no Arrow transfer), which is the
scale-safe path for a 100 TB embedding column.

All math is done in DOUBLE regardless of the storage type (embeddings are
commonly float32 on disk for size; compute in float64 for stable ranking),
with a left-to-right sequential sum — the same evaluation order DuckDB's
``list_dot_product`` uses, which keeps oracle comparisons bit-stable.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _sum_terms(terms: list[Column]) -> Column:
    # left-associated sum — the same IEEE association as a sequential fold
    # and as DuckDB's list_dot_product, so results are bit-identical
    return reduce(lambda x, y: x + y, terms)


def dot_product(a: Column, b: Column, dim: int | None = None) -> Column:
    """sum_i a_i * b_i  (sequential order, double precision).

    With ``dim`` given, the sum unrolls into fixed getItem products.
    MEASURED CAVEAT: at dim=64 the unrolled tree is SLOWER than the
    zip_with/aggregate fold (the generated method blows past JIT/codegen
    size limits); the fold is the right default. For genuinely hot
    pair-tables use ``cosine_pairs_udf`` (Arrow + :func:`pair_scores` —
    bit-identical results, vectorized over rows).
    """
    if dim is None:
        return F.aggregate(
            F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return _sum_terms(
        [a.getItem(i).cast("double") * b.getItem(i).cast("double") for i in range(dim)]
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim is None:
        return F.sqrt(
            F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
        )
    sq = [a.getItem(i).cast("double") for i in range(dim)]
    return F.sqrt(_sum_terms([x * x for x in sq]))


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot_product(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def cosine_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """1 - cosine similarity, matching BigQuery ML.DISTANCE(..., 'COSINE')."""
    return F.lit(1.0) - cosine_similarity(a, b, dim)


def euclidean_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    if dim is None:
        return F.sqrt(
            F.aggregate(
                F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    diffs = [
        a.getItem(i).cast("double") - b.getItem(i).cast("double") for i in range(dim)
    ]
    return F.sqrt(_sum_terms([d * d for d in diffs]))


def pair_scores(a: np.ndarray, b: np.ndarray, metric: str = "cosine") -> np.ndarray:
    """Dot, cosine or euclidean over the last axis of float64 arrays that
    broadcast: (n, d) pairs row by row, (n, d) against a (1, d) query, or
    (m, 1, d) against (1, n, d) for all pairs. Sequential over dimensions,
    the fold's IEEE order, so bit-identical to the expressions above
    (``np.dot`` sums pairwise, float32 rounds each product: both move scores)."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    na = np.zeros(a.shape[:-1])
    nb = np.zeros(b.shape[:-1])
    # dimension-major copies, so each step reads contiguous rows
    for x, y in zip(np.moveaxis(a, -1, 0).copy(), np.moveaxis(b, -1, 0).copy()):
        if metric == "euclidean":
            acc += (x - y) * (x - y)
        else:
            acc += x * y
            na += x * x
            nb += y * y
    if metric == "euclidean":
        return np.sqrt(acc)
    return acc if metric == "dot" else acc / (np.sqrt(na) * np.sqrt(nb))


def cosine_pairs_udf():
    """Arrow-batched cosine over a pair table — bit-identical to the fold.

    For O(pairs) tables (band joins, LSH candidates) the per-row interpreted
    fold dominates runtime; this pandas UDF runs :func:`pair_scores` per batch."""
    import pandas as pd

    # no type hints: `from __future__ import annotations` stringifies them
    # and pandas_udf can't resolve pd.* imported function-locally
    @F.pandas_udf("double")
    def cos(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        mb = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        return pd.Series(pair_scores(ma, mb))

    return cos
