"""Embedding quantization (symmetric int8) + quantized similarity search.

At 100 TB the embedding column dominates storage and scan IO; the
standard fix is to store int8-quantized vectors (4× smaller than
float32, 8× than float64) and run candidate search in integer space,
re-ranking the short list with full-precision vectors only if needed —
the design used by FAISS's SQ8 storage and most production vector
stores.

Exactness policy (the house fixed-point discipline — clustering.py,
lm_score.py): the scale is a corpus MAX (order-independent, no float
accumulation), each component quantizes with one exact-operand division
and a correctly-rounded ``round`` — bit-identical in any IEEE engine —
and every downstream score is an INTEGER dot product, so quantize +
search hash-gates against an ANSI-SQL oracle exactly.

Plan shape: the scale is a 1-row aggregate crossed in via broadcast (no
driver round-trip); quantization is a narrow per-row transform; the
brute-force quantized top-k is the same broadcast-queries ×
streamed-corpus shape as ``similarity.brute_force_topk``; the LSH/IVF
candidate tiers compose unchanged (they only need a vector column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, qv: array<long>, scale) — symmetric linear quantization.

    ``scale`` is the corpus max-|x| (a max-aggregate: deterministic
    under any partitioning, unlike a float sum); each component maps to
    round(x / scale * 127) ∈ [-127, 127], so the
    values fit int8 at rest — parquet's integer encodings store them in
    ~1 byte — while staying BIGINT in-flight for exact integer math.
    """
    row_max = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    mx = df.agg(F.max(row_max).alias("scale"))
    # An all-zero (or empty) corpus yields scale=0 and every x/scale
    # would silently become NULL/NaN, corrupting qv downstream. Fail
    # loudly at the one row where the degenerate state is visible.
    mx = mx.select(
        F.when(F.col("scale") > 0, F.col("scale"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "quantize_embeddings: corpus max |x| is 0 "
                    "(all-zero or empty input) — cannot quantize"
                )
            )
        )
        .alias("scale")
    )
    return df.crossJoin(F.broadcast(mx)).select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x / F.col("scale") * 127).cast("long"),
        ).alias("qv"),
        "scale",
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by INTEGER quantized dot product.

    Inputs are ``quantize_embeddings`` outputs (must share one scale —
    quantize the union, then split). Scores are Σ qa·qb — a
    deterministic integer, so ranking is total with the (score DESC,
    nbr_id ASC) tie-break and the result is hash-gateable. The query
    side broadcasts; the corpus streams: no corpus shuffle before the
    per-query ranking window.
    """
    q = queries.select(F.col("id").alias("query_id"), F.col("qv").alias("q_qv"))
    c = corpus.select(F.col("id").alias("nbr_id"), F.col("qv").alias("n_qv"))
    qdot = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("n_qv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("nbr_id"))
        .withColumn("qdot", qdot)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("nbr_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", "qdot", "rank")
    )
