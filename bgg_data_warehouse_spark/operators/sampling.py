"""Deterministic sampling / splitting / mixing / packing for training-data
pipelines.

The four operations every LLM data pipeline runs between "corpus" and
"training shards", each expressed as pure Catalyst transforms — no RNG
state, no driver loops, no Python crossing — so they are reproducible
run-to-run, partition-count-independent, and shuffle-lean at 100 TB:

- ``train_test_split``  — hash each id into [0, 1000) and band the range
  by split weights. Membership is a pure function of the id, so a re-run
  (or a late-arriving shard) lands every row in the same split without
  coordination. One narrow projection; zero shuffles.
- ``mix_sources``       — per-source keep-rates via the same hash bands
  (down-weight a crawl, up-weight curated text). Zero shuffles.
- ``stratified_sample`` — exactly n per stratum, chosen by hash order
  (deterministic "random"): one shuffle on the stratum key.
- ``pack_sequences``    — concatenate documents in a deterministic order
  and cut the stream into fixed token-budget training sequences: pack id
  = floor(running-token-offset / budget). One window shuffle per group.

Hashing: ``default_bucket`` uses xxhash64 (fast, JVM-side) — the right
choice in production. The graded queries instead pass ``md5_bucket``,
which both Spark and DuckDB can compute bit-identically, so the whole
family is oracle-checkable — same plan shape, different hash expression.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1000


def default_bucket(col: Column) -> Column:
    """xxhash64 bucket in [0, BUCKETS) — production default."""
    return F.pmod(F.xxhash64(col), F.lit(BUCKETS))


def md5_bucket(col: Column) -> Column:
    """md5-derived bucket in [0, BUCKETS), computable bit-identically in
    any engine with md5/substr/ascii — used by the oracle-gated queries.
    Three hex chars → 4096 combinations folded mod 1000."""
    h = F.md5(col.cast("string"))
    return (
        F.ascii(F.substring(h, 1, 1)) * 65536
        + F.ascii(F.substring(h, 2, 1)) * 256
        + F.ascii(F.substring(h, 3, 1))
    ) % BUCKETS


def md5_bucket_sql(expr: str) -> str:
    """The DuckDB-side rendering of ``md5_bucket`` for oracle SQL."""
    h = f"md5(CAST({expr} AS VARCHAR))"
    return (
        f"(ascii(substr({h},1,1))*65536 + ascii(substr({h},2,1))*256 "
        f"+ ascii(substr({h},3,1))) % {BUCKETS}"
    )


def train_test_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    *,
    bucket_fn: Callable[[Column], Column] = default_bucket,
) -> DataFrame:
    """Assign every row to a named split by banding the hash range.

    ``weights`` maps split name → fraction (must sum to ≤ 1; any hash
    remainder falls into the LAST split, so {"train": .8, "val": .1,
    "test": .1} is exact). Assignment is a pure per-row function — no
    shuffle, no sampling state, stable under reruns and repartitioning.
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split weights sum to {total} > 1")
    b = bucket_fn(F.col(id_col))
    expr = None
    edge = 0.0
    names = list(weights)
    for name in names[:-1]:
        edge += weights[name]
        cond = b < F.lit(int(round(edge * BUCKETS)))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", out)


def mix_sources(
    df: DataFrame,
    id_col: str,
    source_col: str,
    rates: dict[str, float],
    *,
    bucket_fn: Callable[[Column], Column] = default_bucket,
) -> DataFrame:
    """Weighted source mixing: keep a deterministic ``rates[source]``
    fraction of each source's rows (hash-banded, so the kept set is
    stable and nested: rate 0.2 ⊂ rate 0.5). Unlisted sources keep
    every row. Pure filter — zero shuffles."""
    for src, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {src!r} must be in [0,1], got {r}")
    b = bucket_fn(F.col(id_col))
    thresh = F.lit(BUCKETS)
    for src, r in rates.items():
        thresh = F.when(F.col(source_col) == src, F.lit(int(round(r * BUCKETS)))).otherwise(
            thresh
        )
    return df.where(b < thresh)


def temperature_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    budget: int,
    *,
    bucket_fn: Callable[[Column], Column] = default_bucket,
) -> DataFrame:
    """Temperature-based source mixing at α = 0.5 (the mT5/multilingual
    sampling rule, Xue et al. 2021): source s is sampled with
    probability ∝ p_s^α, flattening the source distribution so
    low-resource sources are upsampled relative to their share. With a
    total row ``budget`` T, source s keeps rate
    min(1, T·√n_s / (Σ√n · n_s)), applied as a deterministic hash band
    — nested, rerun-stable, coordination-free, like ``mix_sources``.

    α is FIXED at 0.5 because that makes the arithmetic cross-engine
    exact: sqrt is IEEE correctly-rounded everywhere, each √n_s is
    scaled to an integer (round(√n·1e6)), the normalizer is an INTEGER
    sum (order-independent — a double Σ would vary with partial-agg
    order), and the final rate is one exact-integer-operand division.
    A general-α pow() differs by ulps across libm implementations and
    would flake a hash gate.

    Shape at scale: two tiny per-source aggregates + a broadcast rate
    join + a pure filter — ZERO corpus shuffles.
    """
    counts = df.groupBy(F.col(source_col).alias("_src")).agg(
        F.count("*").alias("_n")
    )
    scaled = counts.withColumn(
        "_sq", F.round(F.sqrt(F.col("_n")) * 1_000_000).cast("long")
    )
    tot = scaled.agg(F.sum("_sq").alias("_tot"))
    rates = scaled.crossJoin(F.broadcast(tot)).select(
        "_src",
        F.least(
            F.lit(BUCKETS),
            F.round(
                F.lit(float(BUCKETS))
                * F.lit(budget)
                * F.col("_sq")
                # Denominator in DOUBLE: the BIGINT product _tot·_n
                # overflows int64 once any source holds ~1e9+ rows
                # (Σ round(√n·1e6) · n), and non-ANSI Spark would wrap
                # silently while DuckDB errors. The double product is
                # exact at any scale where the division result still
                # rounds identically (both engines compute the same
                # IEEE double), and the oracle mirrors the cast.
                / (F.col("_tot").cast("double") * F.col("_n"))
            ).cast("long"),
        ).alias("_th"),
    )
    return (
        df.join(
            F.broadcast(rates), F.col(source_col) == F.col("_src")
        )
        .where(bucket_fn(F.col(id_col)) < F.col("_th"))
        .drop("_src", "_th")
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    n_per_stratum: int,
    *,
    bucket_fn: Callable[[Column], Column] = default_bucket,
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, selected by hash order
    (deterministic, uniform-ish, reproducible). One shuffle on the
    stratum key; the per-group top-n plans as WindowGroupLimit, so each
    task keeps only n rows — no full sort of the stratum."""
    w = Window.partitionBy(stratum_col).orderBy(
        bucket_fn(F.col(id_col)).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Concatenation packing: documents are laid end-to-end in ``id_col``
    order (within each group) and the token stream is cut every ``budget``
    tokens — the standard "concat then chunk" LLM pretraining layout.
    Each row gets the pack it STARTS in (``pack_id``) and its token
    offset within the stream (``pack_offset``).

    Shape at scale: one running-sum window per group — a single hash
    exchange on the group key. With no ``group_cols`` the window is
    global; pass a shard/source column at 100 TB so the exchange is
    parallel (sequences never cross shards in real pipelines anyway).
    """
    w = Window.partitionBy(*[F.col(c) for c in group_cols] or [F.lit(0)]).orderBy(id_col)
    start = F.coalesce(
        F.sum(token_count_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return df.withColumn("pack_offset", start).withColumn(
        "pack_id", (F.col("pack_offset") / F.lit(budget)).cast("long")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    token windows of ``chunk_tokens``, starting every ``stride`` tokens
    — the context-window prep step for embedding models and long-doc
    training. Output: (doc, chunk_idx, n_chunk_tokens, chunk_text);
    chunk k covers tokens [k*stride, k*stride + chunk_tokens). The final
    chunk may be short; empty docs produce no chunks.

    Plan shape: posexplode the token array ONCE, compute the (small)
    range of chunk ids containing each position arithmetically, explode
    that, and re-assemble with one (doc, chunk) aggregate — two narrow
    generators and ONE shuffle. The tempting direct form —
    ``transform(sequence(...), k -> slice(toks, ...))`` — re-inlines the
    tokenization per chunk (the interpreted-HOF O(n²) trap measured in
    operators/dedup.py) and is why this is relational instead.
    """
    if stride < 1 or chunk_tokens < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    from ..functions.text import word_tokens

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    # chunk ids whose window [k*stride, k*stride + chunk_tokens) holds pos
    lo = F.greatest(
        F.lit(0),
        F.ceil((F.col("pos") - F.lit(chunk_tokens) + 1) / F.lit(stride)).cast(
            "long"
        ),
    )
    hi = F.floor(F.col("pos") / F.lit(stride)).cast("long")
    # stride > chunk_tokens leaves GAP tokens belonging to no chunk:
    # there lo > hi, and F.sequence(lo, hi) would silently produce a
    # DESCENDING sequence (wrong chunks) instead of an empty one — filter
    # the gap rows out before exploding.
    hits = toks.where(hi >= lo).select(
        "doc",
        "pos",
        "tok",
        F.explode(F.sequence(lo, hi)).alias("chunk_idx"),
    )
    return (
        hits.groupBy("doc", "chunk_idx")
        .agg(
            F.count("*").alias("n_chunk_tokens"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tok"))
                ).getField("tok"),
                " ",
            ).alias("chunk_text"),
        )
    )


def _aes_key(id_col: str, weight_col: str) -> Column:
    """The Efraimidis–Spirakis key ln(u)/w with the deterministic
    Knuth-hash uniform and the weight >= 1 guard (see
    ``weighted_sample_topk`` for the full derivation)."""
    h = F.pmod(
        F.pmod(F.col(id_col).cast("long"), F.lit(2147483647))
        * F.lit(2654435761),
        F.lit(2147483647),
    )
    u = (h + 1) / F.lit(2147483649.0)  # (0, 1]
    w_checked = F.when(
        F.col(weight_col) >= 1, F.col(weight_col).cast("double")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted sample: weight must be >= 1, got "),
                F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")),
                F.lit(" for id "),
                F.col(id_col).cast("string"),
            )
        )
    )
    return F.log(u) / w_checked


def weighted_sample_per_stratum(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    stratum_col: str,
    k: int,
) -> DataFrame:
    """A-ES weighted sampling without replacement, per stratum: the top
    ``k`` keys WITHIN each ``stratum_col`` group are that stratum's
    weighted sample — the balanced-quota form (k per language, k per
    source) of ``weighted_sample_topk``. One shuffle on the stratum
    key; the per-group cut plans as WindowGroupLimit so each task holds
    k rows per group, never a full stratum sort buffer.
    """
    key = _aes_key(id_col, weight_col)
    out = df.select(
        F.col(id_col).alias("doc"),
        F.col(stratum_col).alias("stratum"),
        F.col(weight_col).cast("long").alias("weight"),
        key.alias("sample_key"),
    )
    w = Window.partitionBy("stratum").orderBy(
        F.col("sample_key").desc(), F.col("doc").asc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    Efraimidis–Spirakis A-ES scheme (IPL 2006): each row gets key
    u^(1/w) for uniform u, and the k largest keys ARE a weighted sample
    without replacement. Computed in log space (ln(u)/w, order-
    preserving) so the only float ops are one ln and one divide.

    ``u`` is not an RNG draw but a deterministic Knuth multiplicative
    hash of the id — reproducible run-to-run, partition-independent, and
    bit-identical in any engine with 64-bit integer arithmetic (the
    id is reduced mod 2^31-1 BEFORE the multiply so the product stays in
    long range at any id scale). Weights must be >= 1 (token counts,
    quality scores scaled to ints); a zero/negative/NULL weight would
    silently produce a ±inf/NULL key and corrupt the sample, so it is
    guarded at execution time with a clear error (ADVICE r04 #4).

    Shape at scale: one narrow projection + global top-k, which plans as
    TakeOrderedAndProject — per-partition heaps of k rows, no global
    sort, no shuffle of the corpus.
    """
    key = _aes_key(id_col, weight_col)
    return (
        df.select(
            F.col(id_col).alias("doc"),
            F.col(weight_col).cast("long").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc").asc())
        .limit(k)
    )
