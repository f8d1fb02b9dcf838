"""Similarity search over embedding columns (``array<float>``).

Three tiers, mirroring how the reference serves k-NN
(`/root/reference/definitions/game_neighbors.sqlx` precompute +
`/root/reference/src/warehouse/readers/games.py:134-225` live query):

- ``brute_force_topk``    — exact cosine top-k of queries × corpus. The
  correctness baseline; used when the query set is small (point lookups)
  or the corpus is pre-filtered (the reference's ``users_rated >= 100``
  lesson: filter BEFORE distance+rank — BASELINE.md item 2).
- ``lsh_topk``            — random-hyperplane LSH: sign-bit signatures,
  candidates must share a signature band with the query. Approximate but
  linear-scalable: one narrow shuffle on (band, bucket), never all-pairs.
- ``ivf_topk``            — IVF-style coarse quantization without a
  training step: deterministic seed rows act as centroids, vectors are
  assigned to their nearest centroid (nprobe=1..n), and queries search
  only their probe cells.

Exact distance math is Catalyst expressions (functions/vector.py). The
one Python crossing is LSH signature generation — a dense matmul, which
runs as an Arrow-batched pandas UDF over numpy/BLAS (see
``_hyperplane_buckets_udf`` for why that is the scale-correct shape).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import dot_product, l2_norm

# seed of the random hyperplanes every LSH bucketing draws
LSH_SEED = 42


def _paired_cosine(q_vec: str, n_vec: str, q_norm: str, n_norm: str):
    """dot(q,n) / (|q| * |n|) with the norms HOISTED to per-vector columns.

    Bit-identical to ``cosine_similarity``: the norm is the exact same
    fold, just evaluated once per vector instead of once per PAIR. The
    per-pair expression drops from three interpreted 64-element HOF
    folds to one — measured ~3x on the brute-force path (r7)."""
    return dot_product(F.col(q_vec), F.col(n_vec)) / (
        F.col(q_norm) * F.col(n_norm)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries and corpus share the (id_col, vec_col) schema. The query side
    is broadcast (point-lookup / small-probe assumption); the corpus side
    streams — so the plan is a broadcast nested-loop over a SINGLE corpus
    scan, no shuffle of the big side at all.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec")
    ).withColumn("_nn", l2_norm(F.col("nbr_vec")))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("q_id") != F.col("nbr_id"))
        .withColumn(
            "cosine_sim",
            _paired_cosine("q_vec", "nbr_vec", "_qn", "_nn"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("nbr_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            "nbr_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


def _hyperplane_buckets_udf(num_tables: int, bits_per_table: int):
    """Pandas UDF: embedding -> array of per-table LSH bucket ids.

    Random-hyperplane signatures are a dense matrix multiply
    (n_vectors x dim) @ (dim x tables*bits) followed by sign-packing.
    Expressing that with Catalyst higher-order functions costs
    tables*bits interpreted array folds PER ROW; this is the one spot
    where the Arrow/pandas path is the scale-correct choice — batches
    cross to Python once and the hot loop is one vectorized BLAS matmul.
    Hyperplanes come from a seeded RandomState, so every executor and
    every run derives the identical family with no broadcast state.
    """
    import numpy as np

    total_bits = num_tables * bits_per_table
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        planes = np.random.RandomState(LSH_SEED).standard_normal((mat.shape[1], total_bits))
        signs = (mat @ planes) > 0
        per_table = signs.reshape(len(vecs), num_tables, bits_per_table)
        ids = (per_table * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(ids))

    return buckets


def _with_lsh_buckets(
    df, id_col: str, vec_col: str, idn: str, vecn: str,
    num_tables: int, bits_per_table: int,
    norm_name: str | None = None,
):
    """Attach (table, bucket) rows: one per hash table per vector.

    With ``norm_name``, the vector's L2 norm is computed HERE — once per
    vector, before the per-table explode — so the candidate re-rank pays
    one dot product per pair instead of re-folding both norms."""
    udf = _hyperplane_buckets_udf(num_tables, bits_per_table)
    out = df.select(F.col(id_col).alias(idn), F.col(vec_col).alias(vecn))
    cols = [idn, vecn]
    if norm_name is not None:
        out = out.withColumn(norm_name, l2_norm(F.col(vecn)))
        cols.append(norm_name)
    return out.select(
        *cols, F.posexplode(udf(F.col(vecn))).alias("table", "bucket")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    *,
    num_tables: int = 8,
    bits_per_table: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH candidate join.

    Each vector gets ``num_tables`` bucket keys (one per hash table, each
    an ``bits_per_table``-bit sign signature). Query and corpus join on
    (table, bucket); exact cosine re-ranks within candidates. Recall rises
    with num_tables; cost stays linear (candidates per query ≈ corpus /
    2^bits × tables).
    """

    qb = _with_lsh_buckets(queries, id_col, vec_col, "query_id", "q_vec",
                           num_tables, bits_per_table, "_qn")
    cb = _with_lsh_buckets(corpus, id_col, vec_col, "nbr_id", "nbr_vec",
                           num_tables, bits_per_table, "_nn")

    cand = (
        qb.join(cb, ["table", "bucket"])
        .where(F.col("query_id") != F.col("nbr_id"))
        .dropDuplicates(["query_id", "nbr_id"])
        .withColumn(
            "cosine_sim", _paired_cosine("q_vec", "nbr_vec", "_qn", "_nn")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("nbr_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    *,
    num_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into cells, probe a few.

    Centroids are the ``num_cells`` lowest-id corpus vectors (deterministic,
    training-free — adequate for unit-normalized synthetic data; a k-means
    fit can replace the centroid table without touching the query path).
    Corpus rows are assigned to their nearest centroid; queries search
    their ``nprobe`` nearest cells only.
    """
    # orderBy(...).limit(n) plans as TakeOrderedAndProject — per-partition
    # top-n then a tiny merge — unlike a partitionless row_number Window,
    # which would funnel the whole corpus through one task. The centroid's
    # own source id doubles as the cell label (cells only need to agree
    # between corpus assignment and query probing, not be 0..n-1).
    centroids = (
        corpus.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cent_vec"))
        .orderBy(F.col("cell").asc())
        .limit(num_cells)
        .withColumn("_cn", l2_norm(F.col("cent_vec")))
    )

    def assign(df: DataFrame, idn: str, vecn: str, normn: str, n_assign: int) -> DataFrame:
        scored = (
            df.select(F.col(id_col).alias(idn), F.col(vec_col).alias(vecn))
            # norm once per vector — the centroid cross join would
            # otherwise re-fold it num_cells times per row
            .withColumn(normn, l2_norm(F.col(vecn)))
            .crossJoin(F.broadcast(centroids))
            .withColumn("cent_sim", _paired_cosine(vecn, "cent_vec", normn, "_cn"))
        )
        w = Window.partitionBy(idn).orderBy(F.col("cent_sim").desc(), F.col("cell").asc())
        return (
            scored.withColumn("_cr", F.row_number().over(w))
            .where(F.col("_cr") <= n_assign)
            .select(idn, vecn, normn, "cell")
        )

    corpus_cells = assign(corpus, "nbr_id", "nbr_vec", "_nn", 1)
    query_cells = assign(queries, "query_id", "q_vec", "_qn", nprobe)

    cand = (
        query_cells.join(corpus_cells, "cell")
        .where(F.col("query_id") != F.col("nbr_id"))
        .dropDuplicates(["query_id", "nbr_id"])
        .withColumn(
            "cosine_sim", _paired_cosine("q_vec", "nbr_vec", "_qn", "_nn")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("nbr_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.round("cosine_sim", 6).alias("cosine_sim"), "rank")
    )


def embedding_exact_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Radius-0 embedding near-dup: the PRODUCTION LSH candidate join
    (bits > 0 — bucketed, never all-pairs) verified by exact vector
    equality instead of a cosine threshold.

    At radius 0 the recall argument is corpus-independent, the same
    shape as MinHash at j = 1.0 (see workload.dedup_minhash): an
    identical vector produces identical hyperplane dot products, hence
    identical sign bits, hence the same bucket in EVERY table under ANY
    hyperplane family — recall is exactly 1 by construction — and the
    array-equality verifier gives precision 1. So the bucketed plan's
    output provably equals the equality self-join oracle while the
    candidate set stays bucket-bounded.
    """
    # no norm column: the verifier is exact array equality, so unlike the
    # cosine tier there is nothing to re-rank — folding an L2 norm here
    # would be dead O(dim) work carried through the per-table explode
    buckets = _with_lsh_buckets(df, id_col, vec_col, "doc", "vec", 8, 8)
    return (
        buckets.alias("l")
        .join(buckets.alias("r"), ["table", "bucket"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .where(F.col("l.vec") == F.col("r.vec"))
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    num_tables: int = 8,
    bits_per_table: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the LSH candidate join."""
    buckets = _with_lsh_buckets(
        df, id_col, vec_col, "doc", "vec", num_tables, bits_per_table,
        "_n2",
    )
    cand = (
        buckets.alias("l")
        .join(buckets.alias("r"), ["table", "bucket"])
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(
            F.col("l.doc").alias("doc_a"),
            F.col("r.doc").alias("doc_b"),
            F.col("l.vec").alias("vec_a"),
            F.col("r.vec").alias("vec_b"),
            F.col("l._n2").alias("_na"),
            F.col("r._n2").alias("_nb"),
        )
        # cosine + threshold BEFORE the dedup shuffle (r15, guide §2.2):
        # the dedup used to shuffle every candidate pair WITH both
        # embedding arrays attached and compute cosine after — measured
        # on the exact gate, 500k wide rows through the exchange and a
        # sort-aggregate over vector payloads (~8 s single map task +
        # a 286 s-CPU reduce stage). Cosine is a pure function of the
        # pair, so filtering first and shuffling only (doc_a, doc_b,
        # cosine_sim) is result-identical while the exchange carries
        # the few survivors of the threshold, not the candidate set.
        # Trade-off: a pair colliding in k>1 tables computes its cosine
        # k times pre-dedup — k is bounded by num_tables and the
        # per-pair compute is dim-bounded, while the avoided shuffle
        # was candidate-set-sized; at any scale the bytes win.
        .withColumn(
            "cosine_sim", _paired_cosine("vec_a", "vec_b", "_na", "_nb")
        )
        .where(F.col("cosine_sim") >= threshold)
        .select("doc_a", "doc_b", "cosine_sim")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select("doc_a", "doc_b", F.round("cosine_sim", 6).alias("cosine_sim"))
