"""Bigram language-model perplexity scoring — CCNet-style quality filter.

A standard pretraining-corpus curation step (Wenzek et al., "CCNet:
Extracting High Quality Monolingual Datasets from Web Crawl Data", 2020)
scores every document by the perplexity of a small n-gram LM and filters
or buckets on it. This module trains an add-one-smoothed bigram model
over the corpus itself and scores each document in the same pass — two
aggregations and two model joins, all Catalyst expressions.

Plan shape (and why it survives 100 TB):

- bigrams are formed ARRAY-SIDE (``arrays_zip`` of two slices of the
  token array) before the explode, so bigram formation costs zero
  shuffles — no per-token window or self-join.
- the per-(doc, a, b) count is the only shuffle over bigram INSTANCES;
  every model quantity (corpus bigram counts, preceding-token counts,
  vocabulary) derives from that pre-aggregated table, which is bounded
  by Σ distinct-bigrams-per-doc, not by corpus token volume.
- the model tables join back keyed on (a, b) / (a); they are
  vocabulary-bounded, so AQE broadcasts them when small and falls back
  to a hash join on the same key when a 100 TB vocabulary isn't.
- the vocabulary size is a one-row aggregate crossed in via broadcast —
  no driver round-trip in the data path.

Exactness policy (same as clustering.py / pagerank.py fixed-point
arithmetic): the per-bigram log-probability is scaled to an integer —
``CAST(round(ln(p) * 1e6) AS BIGINT)`` micro-nats — so the per-document
sum is an INTEGER sum (order-independent, partial-agg safe, bit-equal in
any engine). The only floating-point steps are one ln() per DISTINCT
(a, b) pair and one exp() per output row, both computed from exactly
representable rationals; a cross-engine 1-ulp ln() disagreement only
matters within ~3e-15 of a micro-nat rounding boundary.

Reference parity: no reference counterpart (the reference curates board
game metadata, not text corpora) — LLM-pipeline extension in the same
family as functions/text.py quality_score_cols.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

MICRO = 1_000_000


def _tokens_wide(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, _t) — the tokenized projection, re-spread across the
    session's cores when the source scan arrives under-parallel.

    Tokenize + n-gram explode + the aggregate's partial phase all fuse
    into the SCAN task, so a one-row-group parquet fixture runs the
    whole CPU-heavy map stage in a single task (measured: 3×0.8–0.9 s
    serial jobs in trigram_backoff_ppl at sf0.1). Production tables
    scan as thousands of splits and skip the exchange entirely — the
    repartition is conditional on the scan's actual partition count,
    so it is a stand-in for missing input parallelism, not a fixed
    local[32] tuning (guide §2.5 input skew / §1.2). Hash-partitioning
    on the doc id keeps the row→partition map deterministic under task
    retry (guide §2.5, SPARK-38388)."""
    proj = df.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_txt")
    )
    width = df.sparkSession.sparkContext.defaultParallelism
    if proj.rdd.getNumPartitions() < width:
        proj = proj.repartition(width, "doc")
    return proj.select("doc", word_tokens(F.col("_txt")).alias("_t"))


def doc_bigram_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, a, b, m) — per-document bigram occurrence counts.

    Bigram formation is array-side: zip the token array against itself
    shifted by one, explode once, count. Documents with fewer than two
    tokens contribute no rows (they have no bigrams to score).
    """
    return _bigram_counts_from_tokens(_tokens_wide(df, id_col, text_col))


def _bigram_counts_from_tokens(tok_df: DataFrame) -> DataFrame:
    toks = tok_df.select(
        "doc",
        # greatest(…, 0): slice() rejects negative lengths, which a
        # zero-token document would otherwise produce
        F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))).alias(
            "_l"
        ),
        F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))).alias(
            "_r"
        ),
    )
    return (
        toks.select("doc", F.explode(F.arrays_zip("_l", "_r")).alias("bg"))
        .select("doc", F.col("bg._l").alias("a"), F.col("bg._r").alias("b"))
        .groupBy("doc", "a", "b")
        .agg(F.count("*").alias("m"))
    )


def doc_trigram_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, w1, w2, w3, m) — per-document trigram occurrence counts,
    formed array-side like ``doc_bigram_counts`` (three shifted slices
    zipped, one explode, one aggregate). Documents under three tokens
    contribute nothing."""
    return _trigram_counts_from_tokens(_tokens_wide(df, id_col, text_col))


def _trigram_counts_from_tokens(tok_df: DataFrame) -> DataFrame:
    toks = tok_df.select(
        "doc",
        F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 2, F.lit(0))).alias("_a"),
        F.slice(F.col("_t"), 2, F.greatest(F.size("_t") - 2, F.lit(0))).alias("_b"),
        F.slice(F.col("_t"), 3, F.greatest(F.size("_t") - 2, F.lit(0))).alias("_c"),
    )
    return (
        toks.select("doc", F.explode(F.arrays_zip("_a", "_b", "_c")).alias("t"))
        .select(
            "doc",
            F.col("t._a").alias("w1"),
            F.col("t._b").alias("w2"),
            F.col("t._c").alias("w3"),
        )
        .groupBy("doc", "w1", "w2", "w3")
        .agg(F.count("*").alias("m"))
    )


def trigram_backoff_ppl(
    train_df: DataFrame,
    score_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc, n_trigrams, nll_micro, ppl) — trigram LM with STUPID
    BACKOFF (Brants et al., "Large Language Models in Machine
    Translation", EMNLP 2007: S(w3|w1w2) = C(w1w2w3)/C(w1w2), backing
    off to 0.4·C(w2w3)/C(w2), then 0.16·C(w3)/N, unseen-unigram floor
    0.16·1/N), trained on ``train_df`` and scoring ``score_df`` — train
    ≠ score is what makes the backoff paths live (a model scoring its
    own training corpus never backs off: every observed trigram has a
    count by construction).

    Same exactness policy as ``bigram_perplexity``: one ln() per
    DISTINCT scored trigram over exact integer ratios (the backoff
    multiplier is applied INSIDE the ln argument with fixed
    parenthesization so both engines compute the identical double),
    micro-nat integer per-doc sums. Model tables are vocabulary-bounded
    (trigram/bigram/unigram counts + one scalar N) and join back on
    their n-gram keys — AQE broadcasts the small ones; every join is a
    LEFT join so the CASE can select the deepest seen order.
    """
    # tokenize the training corpus ONCE (cached): the trigram, bigram
    # and unigram model orders all derive from the same (doc, tokens)
    # frame instead of re-tokenizing the corpus three times — and the
    # tokenize itself runs wide via _tokens_wide when the source scan
    # is under-parallel (r15; was 3 serial ~0.9 s single-task jobs on
    # the one-row-group fixture).
    tok_train = _tokens_wide(train_df, id_col, text_col).cache()
    tri_m = (
        _trigram_counts_from_tokens(tok_train)
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("m").alias("c3"))
    )
    bi_inst = _bigram_counts_from_tokens(tok_train)
    bi_m = bi_inst.groupBy("a", "b").agg(F.sum("m").alias("c2"))
    toks = tok_train.select(F.explode(F.col("_t")).alias("tok"))
    uni_m = toks.groupBy("tok").agg(F.count("*").alias("c1"))
    n_tok = toks.agg(F.count("*").alias("n"))

    doc_tri = doc_trigram_counts(score_df, id_col, text_col).cache()
    joined = (
        doc_tri.join(tri_m, ["w1", "w2", "w3"], "left")
        .join(
            bi_m.select(
                F.col("a").alias("w1"), F.col("b").alias("w2"),
                F.col("c2").alias("c12"),
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            bi_m.select(
                F.col("a").alias("w2"), F.col("b").alias("w3"),
                F.col("c2").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni_m.select(F.col("tok").alias("w2"), F.col("c1").alias("cu2")),
            ["w2"],
            "left",
        )
        .join(
            uni_m.select(F.col("tok").alias("w3"), F.col("c1").alias("cu3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(n_tok))
    )
    # parenthesization is part of the gate contract: 0.4 * (a / b), and
    # the literal 0.16 (NOT 0.4*0.4, which is a different double)
    slog = F.expr(
        "CAST(round(CASE"
        "  WHEN c3 IS NOT NULL THEN ln(c3 / CAST(c12 AS DOUBLE))"
        "  WHEN c23 IS NOT NULL THEN ln(0.4 * (c23 / CAST(cu2 AS DOUBLE)))"
        "  ELSE ln(0.16 * (coalesce(cu3, 1) / CAST(n AS DOUBLE)))"
        f" END * {MICRO}) AS BIGINT)"
    )
    scored = (
        joined.withColumn("_slog", slog)
        .groupBy("doc")
        .agg(
            F.sum("m").alias("n_trigrams"),
            (-F.sum(F.col("m") * F.col("_slog"))).alias("nll_micro"),
        )
    )
    return scored.select(
        "doc",
        "n_trigrams",
        "nll_micro",
        F.round(
            F.exp(
                F.col("nll_micro").cast("double")
                / F.col("n_trigrams")
                / F.lit(float(MICRO))
            ),
            4,
        ).alias("ppl"),
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc, n_bigrams, nll_micro, ppl) for every document with ≥1 bigram.

    Add-one smoothed bigram probability P(b|a) = (C(a,b)+1) / (C(a)+V),
    where C(a) counts occurrences of ``a`` as a PRECEDING token and V is
    the bigram-participating vocabulary (distinct tokens appearing in any
    bigram — identical to the full vocabulary except for tokens that only
    ever occur in single-token documents). ``nll_micro`` is the exact
    integer Σ m·round(−ln P · MICRO); ``ppl`` = exp(nll_micro / n / MICRO)
    rounded to 4dp.
    """
    doc_bi = doc_bigram_counts(df, id_col, text_col)
    # every model quantity derives from the PRE-AGGREGATED doc_bi table:
    # cache it once; it feeds the model build and the scoring join. The
    # cache() is released by the caller's clearCache()/unpersist, not
    # leaked by a per-invocation persist() (ADVICE r04 #2).
    doc_bi = doc_bi.cache()
    model = doc_bi.groupBy("a", "b").agg(F.sum("m").alias("cnt"))
    uni = doc_bi.groupBy("a").agg(F.sum("m").alias("cn"))
    vocab = (
        doc_bi.select(F.col("a").alias("tok"))
        .union(doc_bi.select(F.col("b").alias("tok")))
        .distinct()
        .agg(F.count("*").alias("v"))
    )
    slog = F.expr(
        f"CAST(round(ln((cnt + 1) / CAST(cn + v AS DOUBLE)) * {MICRO}) AS BIGINT)"
    )
    scored = (
        doc_bi.join(model, ["a", "b"])
        .join(uni, "a")
        .crossJoin(F.broadcast(vocab))
        .withColumn("_slog", slog)
        .groupBy("doc")
        .agg(
            F.sum("m").alias("n_bigrams"),
            (-F.sum(F.col("m") * F.col("_slog"))).alias("nll_micro"),
        )
    )
    return scored.select(
        "doc",
        "n_bigrams",
        "nll_micro",
        F.round(
            F.exp(
                F.col("nll_micro").cast("double")
                / F.col("n_bigrams")
                / F.lit(float(MICRO))
            ),
            4,
        ).alias("ppl"),
    )
