"""DSIR-style importance weighting for pretraining-data selection.

Implements the hashed n-gram importance-resampling estimator of Xie et
al., "Data Selection for Language Models via Importance Resampling"
(NeurIPS 2023): fit two bag-of-hashed-token models — one on a small
TARGET corpus (the distribution you want more of), one on the RAW pool —
and score every raw document with the log importance weight

    log w(d) = Σ_tokens [ log p_target(bucket(tok)) − log p_raw(bucket(tok)) ]

then keep the top-k. Documents that look like the target distribution
get large positive weights.

Plan shape (why this survives 100 TB):

- tokenize + bucket is map-side only (Catalyst expressions, no Python);
  the ONE shuffle over token volume is the per-(doc, bucket) count,
  whose width is bounded by min(tokens, num_buckets) per document;
- both models are ``num_buckets``-row tables (a caller-bounded constant,
  e.g. 10k — NOT corpus-sized), so the score joins broadcast;
- the final top-k plans as TakeOrderedAndProject — per-partition heaps,
  no global sort.

Exactness policy (same fixed-point arithmetic as lm_score.py /
clustering.py): per-bucket log-probabilities are integer micro-nats
``CAST(round(ln((n+1)/(tot+B)) * 1e6) AS BIGINT)``; a document's weight
is then Σ m·(lt−lr) — an INTEGER sum, order-independent and bit-equal
in any engine, so the whole selection is hash-gateable.

Reference parity: no reference counterpart (the reference warehouses
board-game metadata) — LLM-pipeline extension alongside lm_score.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

MICRO = 1_000_000


def md5_fold(col: Column, n: int) -> Column:
    """Deterministic bucket in [0, n) from the first 4 md5 hex chars —
    computable bit-identically in any engine with md5/substr/ascii
    (``md5_fold_sql`` is the DuckDB rendering). Spread is 4096^... ~16.7M
    combinations folded mod n; fine for feature hashing."""
    h = F.md5(col.cast("string"))
    acc = F.lit(0).cast("long")
    for i in range(1, 5):
        acc = acc * 256 + F.ascii(F.substring(h, i, 1))
    return acc % n


def md5_fold_sql(expr: str, n: int) -> str:
    """DuckDB rendering of ``md5_fold`` (same nesting, same values)."""
    h = f"md5(CAST({expr} AS VARCHAR))"
    acc = "CAST(0 AS BIGINT)"
    for i in range(1, 5):
        acc = f"({acc} * 256 + ascii(substr({h},{i},1)))"
    return f"({acc} % {n})"


def bucket_log_probs(
    counts: DataFrame, *, num_buckets: int
) -> DataFrame:
    """(bkt, l) — add-one-smoothed bucket log-probabilities in integer
    micro-nats, over the FULL bucket spine 0..num_buckets-1 (absent
    buckets get the smoothed floor, so scoring never misses a key).

    ``counts`` is (doc, bkt, m) per-document bucket counts; the model
    marginalizes docs out. Both aggregates are integer; the single
    float step is one ln() per bucket over an exactly-representable
    rational, rounded to a micro-nat."""
    spark = counts.sparkSession
    per_bucket = counts.groupBy("bkt").agg(F.sum("m").alias("n"))
    tot = counts.agg(F.sum("m").alias("_tot"))
    spine = spark.range(num_buckets).select(F.col("id").cast("long").alias("bkt"))
    return (
        spine.join(per_bucket, "bkt", "left")
        .select("bkt", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            F.round(
                F.log(
                    (F.col("n") + 1).cast("double")
                    / (F.col("_tot") + num_buckets).cast("double")
                )
                * MICRO
            )
            .cast("long")
            .alias("l"),
        )
    )


def importance_weights(
    raw_counts: DataFrame,
    target_model: DataFrame,
    raw_model: DataFrame,
) -> DataFrame:
    """(doc, n_tokens, weight_micro) — per-document DSIR log importance
    weight in micro-nats: Σ m·(l_target − l_raw), an integer sum.

    The model joins key on ``bkt``; both models are num_buckets-row
    tables (bounded by construction, never corpus-sized), so the
    broadcast hint is safe — unlike a per-document table, this cannot
    outgrow the driver at corpus scale."""
    lt = target_model.select("bkt", F.col("l").alias("_lt"))
    lr = raw_model.select("bkt", F.col("l").alias("_lr"))
    return (
        raw_counts.join(F.broadcast(lt), "bkt")
        .join(F.broadcast(lr), "bkt")
        .groupBy("doc")
        .agg(
            F.sum("m").alias("n_tokens"),
            F.sum(F.col("m") * (F.col("_lt") - F.col("_lr"))).alias(
                "weight_micro"
            ),
        )
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    *,
    num_buckets: int = 256,
    top_k: int = 100,
) -> DataFrame:
    """Score every non-target document against the target distribution
    and keep the ``top_k`` by weight (doc id tie-break). One pass builds
    both models; the raw pool is scored without a second tokenize."""
    # carry the target flag through the count groupBy (it is
    # functionally dependent on doc, so the extra key is free) instead
    # of joining it back afterwards — one corpus-table shuffle saved
    toks = df.select(
        F.col(id_col).alias("doc"),
        is_target.alias("_is_tgt"),
        F.explode(word_tokens(F.col(text_col))).alias("tok"),
    )
    counts = (
        toks.select(
            "doc", "_is_tgt", md5_fold(F.col("tok"), num_buckets).alias("bkt")
        )
        .groupBy("doc", "_is_tgt", "bkt")
        .agg(F.count("*").alias("m"))
    )
    t_model = bucket_log_probs(
        counts.where(F.col("_is_tgt")), num_buckets=num_buckets
    )
    r_model = bucket_log_probs(
        counts.where(~F.col("_is_tgt")), num_buckets=num_buckets
    )
    scored = importance_weights(
        counts.where(~F.col("_is_tgt")).select("doc", "bkt", "m"),
        t_model,
        r_model,
    )
    return scored.orderBy(
        F.col("weight_micro").desc(), F.col("doc").asc()
    ).limit(top_k)
