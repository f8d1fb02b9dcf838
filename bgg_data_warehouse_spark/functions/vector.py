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

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """sum_i a_i * b_i  (sequential order, double precision).

    A ``zip_with``/``aggregate`` fold: an unrolled ``getItem`` sum was
    measured slower at dim=64 (the generated method blows past JIT/codegen
    size limits). Hot pair tables are scored on the driver or per Arrow
    batch with :func:`pair_scores` (bit-identical results;
    ``operators/band_join.py``).
    """
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


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
