"""Behavioral tests for the dedup family and ANN search: planted
duplicates are found; approximate paths agree with exact baselines."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = (
        "spark window join filter aggregate shuffle partition broadcast "
        "catalyst codegen parquet column predicate pushdown scan merge "
    ) * 3
    near = base.replace("broadcast", "multicast", 1)
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4),
        (5, "one two three four five six seven eight nine ten " * 4),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_keeps_lowest_id(spark, docs_with_dups):
    from bgg_data_warehouse_spark.operators.dedup import dedup_exact

    kept = sorted(r.doc_id for r in dedup_exact(docs_with_dups, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5]


def test_minhash_lsh_finds_planted_near_dups(spark, docs_with_dups):
    from bgg_data_warehouse_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs_with_dups, "doc_id", "text", jaccard_threshold=0.5
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got  # exact dup always caught
    assert (1, 3) in got or (2, 3) in got  # near dup caught
    jac = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0
    # unrelated docs never pair
    assert all(a not in (4, 5) and b not in (4, 5) for a, b in got)


def test_minhash_verified_equals_exact_jaccard(spark):
    """The oracle-gated verifier configuration (shingle_k=1, 2 bands × 24
    rows, τ=0.97) must reproduce the EXACT all-pairs token-Jaccard result
    on the gate data — recall floor 1.0 at this threshold. Depth
    rationale: with the generator's 31-token vocabulary, j >= 0.97 is
    only reachable by identical token sets, which collide in every band
    at any depth (see workload.dedup_minhash_verified)."""
    from bgg_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    approx = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text",
            shingle_k=1, num_hashes=48, bands=2, jaccard_threshold=0.97,
        ).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.97).collect()
    }
    assert approx == exact


def test_simhash_finds_planted_near_dups(spark, docs_with_dups):
    from bgg_data_warehouse_spark.operators.dedup import simhash_pairs

    got = {(r.doc_a, r.doc_b) for r in simhash_pairs(
        docs_with_dups, "doc_id", "text", max_hamming=3).collect()}
    assert (1, 2) in got
    assert all(a not in (4, 5) and b not in (4, 5) for a, b in got)


def test_simhash_rejects_undersized_chunks(spark, docs_with_dups):
    from bgg_data_warehouse_spark.operators.dedup import simhash_pairs

    with pytest.raises(ValueError):
        simhash_pairs(docs_with_dups, "doc_id", "text", max_hamming=4, num_chunks=4)


def test_ngram_jaccard_exact_pairs(spark, docs_with_dups):
    from bgg_data_warehouse_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs_with_dups, "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.8


def test_minhash_pairs_sub_shingle_docs(spark):
    """Docs shorter than one shingle still pair when identical (whole-doc
    fallback shingle) and never pair when different."""
    from bgg_data_warehouse_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other text"), (4, "tiny")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", shingle_k=3, jaccard_threshold=0.9
        ).collect()
    }
    assert got == {(1, 2): 1.0}


def test_lsh_recall_against_bruteforce(spark):
    from bgg_data_warehouse_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    approx = lsh_topk(queries, emb, "vec_id", "embedding", k=10, num_tables=16, bits_per_table=4)
    e = {(r.query_id, r.nbr_id) for r in exact.collect()}
    a = {(r.query_id, r.nbr_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_returns_k_per_query(spark):
    from bgg_data_warehouse_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = ivf_topk(emb.where(F.col("vec_id") < 5), emb, "vec_id", "embedding", k=10)
    counts = {r.query_id: r.n for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {0, 1, 2, 3, 4}
    assert all(n == 10 for n in counts.values())


def test_ivf_exhaustive_probe_equals_bruteforce(spark):
    """nprobe == num_cells makes IVF exhaustive: identical rows (ids,
    sims, ranks) to brute force — the property the knn_ivf_exact oracle
    gate checks at the driver."""
    from bgg_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(queries, emb, "vec_id", "embedding", k=10)
    ivf = ivf_topk(
        queries, emb, "vec_id", "embedding", k=10, num_cells=8, nprobe=8
    )
    e = {(r.query_id, r.nbr_id, r.cosine_sim, r.rank) for r in exact.collect()}
    i = {(r.query_id, r.nbr_id, r.cosine_sim, r.rank) for r in ivf.collect()}
    assert e == i


def test_brute_force_excludes_self_and_ranks_desc(spark):
    from bgg_data_warehouse_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = brute_force_topk(emb.where(F.col("vec_id") == 0), emb, "vec_id", "embedding", k=5).collect()
    assert all(r.nbr_id != 0 for r in out)
    sims = [r.cosine_sim for r in sorted(out, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)


def test_substring_dedup_removes_later_spans_only(spark):
    from bgg_data_warehouse_spark.operators.dedup import substring_dedup

    span = "a b c d e f g h"  # 8 tokens, shared verbatim
    df = spark.createDataFrame(
        [
            (1, span + " unique1"),
            (2, "z " + span + " w"),
            (3, "totally different words only here now ok fine yes"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc: r for r in substring_dedup(
        df, "doc_id", "text", span_tokens=8).collect()}
    # first occurrence (doc 1) intact
    assert got[1].text_dedup == span + " unique1" and got[1].n_kept == 9
    # doc 2 loses exactly the duplicated span, keeps its unique tokens
    assert got[2].text_dedup == "z w" and got[2].n_kept == 2
    assert got[2].n_tokens == 10
    # untouched doc unchanged
    assert got[3].n_kept == got[3].n_tokens == 9


def test_incremental_minhash_equals_full_recompute_subset(spark):
    """The incremental batch-vs-index path must emit exactly the
    batch-touching subset of the full-corpus pair computation."""
    from pyspark.sql import functions as F

    from bgg_data_warehouse_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        minhash_sketch,
    )
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    conf = dict(shingle_k=1, num_hashes=48)
    full = minhash_lsh_pairs(
        docs, "doc_id", "text", bands=2, jaccard_threshold=0.97, **conf
    )
    expected = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in full.where(
            (F.col("doc_a") % 10 == 0) | (F.col("doc_b") % 10 == 0)
        ).collect()
    )
    index = minhash_sketch(docs.where(F.col("doc_id") % 10 != 0), "doc_id", "text", **conf)
    batch = minhash_sketch(docs.where(F.col("doc_id") % 10 == 0), "doc_id", "text", **conf)
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in incremental_minhash_pairs(
            index, batch, num_hashes=48, bands=2, jaccard_threshold=0.97
        ).collect()
    )
    assert got == expected and len(got) > 0
