"""Multinomial Naive Bayes document classification — the trained
counterpart of the heuristic language-ID filter (functions/text.py) and
the standard cheap classifier real curation pipelines run at corpus
scale (fastText-style language/domain/quality routing; cf. CCNet's
fastText LID stage).

Everything is counts + integer micro-nat log-probabilities (the
fixed-point policy shared with lm_score.py / clustering.py /
pagerank.py): training is two aggregations over the corpus, the model
is a dense (token × label) table of BIGINT log-probs, and scoring is
one join + an integer sum — order-independent, partial-agg safe, and
bit-equal in any engine, which is what lets the full train+classify
pipeline be hash-gated against an ANSI-SQL oracle.

Plan shape at 100 TB:

- Training touches the corpus twice: per-(doc, tok) counts (one shuffle,
  map-side combined to nnz) and the label priors (one row per class).
  The (tok, label) model derives from the pre-aggregated doc_tok table.
- The dense model is vocabulary × labels — labels are small by
  construction (languages, domains, quality buckets), so the densify
  cross join is vocab-bounded and the scoring join on ``tok`` is
  AQE-broadcast when the model is small, a plain shuffle join when a
  100 TB vocabulary isn't.
- Scoring emits L rows per distinct (doc, token) into one (doc, label)
  aggregate, then a per-doc integer argmax via min(struct(-score,
  label)) — deterministic tie-break on the lexicographically smaller
  label, no window.

Reference parity: no reference counterpart (the reference curates board
game metadata) — LLM-pipeline extension, same family as
``bigram_perplexity``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .lm_score import MICRO


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_tokens(F.col(text_col))).alias("tok"),
    )


def naive_bayes_train(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Train add-one-smoothed multinomial NB.

    Returns ``(model, priors)``: ``model`` is the DENSE (tok, label,
    lp_micro) table — every vocabulary token × every label, unseen
    combinations at the smoothing floor — and ``priors`` is (label,
    prior_micro) from document frequencies. Both integer micro-nats.
    """
    toks = _doc_tokens(df, id_col, text_col).join(
        df.select(
            F.col(id_col).alias("doc"), F.col(label_col).alias("label")
        ),
        "doc",
    )
    tokcnt = toks.groupBy("label", "tok").agg(F.count("*").alias("cnt"))
    ccls = tokcnt.groupBy("label").agg(F.sum("cnt").alias("ctot"))
    vocab = tokcnt.select("tok").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    dense = (
        ccls.crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(tokcnt, ["label", "tok"], "left")
        .select(
            "tok",
            "label",
            F.expr(
                "CAST(round(ln((coalesce(cnt, 0) + 1) /"
                f" CAST(ctot + v AS DOUBLE)) * {MICRO}) AS BIGINT)"
            ).alias("lp_micro"),
        )
    )
    nd = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("nd")
    )
    n = df.agg(F.count("*").alias("n"))
    priors = nd.crossJoin(F.broadcast(n)).select(
        "label",
        F.expr(
            f"CAST(round(ln(nd / CAST(n AS DOUBLE)) * {MICRO}) AS BIGINT)"
        ).alias("prior_micro"),
    )
    return dense, priors


def naive_bayes_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: DataFrame,
    priors: DataFrame,
) -> DataFrame:
    """(doc, pred_label, score_micro) — argmax over labels of
    prior + Σ m·lp, ties to the lexicographically smaller label.
    Documents with no in-vocabulary tokens produce no row (the inner
    model join — the oracle replays the same semantics)."""
    doc_tok = (
        _doc_tokens(df, id_col, text_col)
        .groupBy("doc", "tok")
        .agg(F.count("*").alias("m"))
    )
    per_label = (
        doc_tok.join(model, "tok")
        .groupBy("doc", "label")
        .agg(F.sum(F.col("m") * F.col("lp_micro")).alias("ll"))
        .join(F.broadcast(priors), "label")
        .select(
            "doc", "label", (F.col("ll") + F.col("prior_micro")).alias("score")
        )
    )
    best = per_label.groupBy("doc").agg(
        F.min(F.struct((-F.col("score")).alias("ns"), F.col("label"))).alias(
            "_b"
        )
    )
    return best.select(
        "doc",
        F.col("_b.label").alias("pred_label"),
        (-F.col("_b.ns")).alias("score_micro"),
    )
