"""Unigram-LM subword segmentation (SentencePiece-style Viterbi).

Completes the tokenizer family: BPE (bpe.py) learns merges bottom-up,
WordPiece (wordpiece.py) matches greedily left-to-right; the unigram
model scores every POSSIBLE segmentation of a word against a piece
probability model and takes the best — the lattice view SentencePiece
uses (Kudo 2018). Here the piece model is one frequency pass (counts of
all substrings up to ``MAX_PIECE_LEN``) and inference is the exact
Viterbi DP over the word's segmentation lattice.

Exactness discipline: piece costs are -ln(p) in ROUNDED micro-nat
integers (the lm_score.py convention — ``CAST(round(ln(total /
count) * 1e6) AS BIGINT)``), so the DP itself is pure BIGINT min-plus
arithmetic: the minimal cost and the NUMBER of optimal paths are both
engine-independent integers, replayable in a DuckDB CTE chain
(:func:`unigram_oracle_sql`). The segmentation STRING is deliberately
not emitted — argmin tie-breaks are representation-dependent, while
the (min_cost, n_best_paths) pair is a pure function of the lattice.

Spark-first shape: the lattice edges are one vocabulary-bounded
equi-join (candidate spans x piece costs); the DP runs ENTIRELY
map-side as a Catalyst higher-order ``aggregate`` over an array of at
most ``MAX_LEN * MAX_PIECE_LEN`` edges per word — no per-position
joins, no UDFs, no shuffle beyond the edge build. At 100 TB the work
is linear in corpus tokens with a broadcastable cost table.

No reference counterpart (the reference tokenizes nothing); this is an
LLM-pipeline extension alongside bpe.py/wordpiece.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["unigram_costs", "unigram_segment", "unigram_oracle_sql"]

MICRO = 1_000_000
MAX_PIECE_LEN = 4  # longest piece
MAX_LEN = 16  # longest segmented word
MIN_COUNT = 2  # corpus count a piece needs to enter the vocabulary
INF = 1_000_000_000_000_000  # > any reachable path cost; never summed


def unigram_costs(words: DataFrame) -> DataFrame:
    """(piece, pc, cost) — every substring of length 1..MAX_PIECE_LEN
    of every ``word``, weighted by its occurrence count ``c``, kept if
    its corpus count reaches ``MIN_COUNT``; cost = round(ln(total / pc)
    * MICRO) micro-nats. Substring enumeration is map-side (nested
    ``transform`` over positions); the only shuffles are the piece
    count and the 1-row total broadcast."""
    pieces = (
        words.select(
            F.explode(
                F.expr(
                    f"""flatten(transform(sequence(1, length(word)), s ->
                      transform(sequence(s, least(length(word),
                                                  s + {MAX_PIECE_LEN - 1})), e ->
                        substring(word, s, e - s + 1))))"""
                )
            ).alias("piece"),
            F.col("c").alias("_c"),
        )
        .groupBy("piece")
        .agg(F.sum("_c").alias("pc"))
        .where(F.col("pc") >= MIN_COUNT)
    )
    total = pieces.agg(F.sum("pc").alias("tot"))
    return pieces.crossJoin(F.broadcast(total)).select(
        "piece",
        "pc",
        F.expr(
            f"CAST(round(ln(CAST(tot AS DOUBLE) / pc) * {MICRO}) AS BIGINT)"
        ).alias("cost"),
    )


def unigram_segment(
    targets: DataFrame,
    costs: DataFrame,
) -> DataFrame:
    """(word, min_cost_micro, n_best_paths) for every DISTINCT target
    ``word`` of length <= MAX_LEN that has at least one full segmentation
    into vocabulary pieces (unreachable words are dropped, matching
    the oracle's absent-row semantics; duplicate target rows collapse
    to one output row).

    DP: states 0..L (prefix lengths); edge (s, e) for every span whose
    substring is a vocabulary piece; best[i] = min over edges ending at
    i of best[s-1] + cost, ways[i] = number of min-cost paths. Runs as
    one Catalyst ``aggregate`` over the word's collected edge list —
    the entire Viterbi is whole-stage-codegen map-side work."""
    # distinct is part of the contract, not an optimization: a
    # duplicated target row would duplicate every lattice edge in the
    # collected list and inflate n_best_paths 2^k-fold.
    w = (
        targets.where((F.length("word") >= 1) & (F.length("word") <= MAX_LEN))
        .select("word")
        .distinct()
    )
    spans = w.select(
        "word",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(word)), s ->
                  transform(sequence(s, least(length(word),
                                              s + {MAX_PIECE_LEN - 1})), e ->
                    struct(s, e, substring(word, s, e - s + 1) AS piece))))"""
            )
        ).alias("sp"),
    ).select("word", "sp.s", "sp.e", "sp.piece")
    edges = spans.join(costs.select("piece", "cost"), "piece")
    elist = edges.groupBy("word").agg(
        F.collect_list(F.struct("s", "e", "cost")).alias("es")
    )
    # min-plus DP as one expression; the min over candidates at step i
    # appears twice (once for best, once to count ties) because SQL
    # lambdas cannot let-bind — both instances are the same integer.
    cand = (
        f"filter(es, x -> x.e = i AND element_at(acc.best, x.s) < {INF}L)"
    )
    best_i = (
        f"coalesce(array_min(transform({cand}, "
        f"x -> element_at(acc.best, x.s) + x.cost)), {INF}L)"
    )
    ways_i = (
        f"aggregate(filter({cand}, x -> element_at(acc.best, x.s) + x.cost = "
        f"{best_i}), 0L, (a, x) -> a + element_at(acc.ways, x.s))"
    )
    dp = F.expr(
        f"""aggregate(
              sequence(1, length(word)),
              struct(array(0L) AS best, array(1L) AS ways),
              (acc, i) -> struct(
                concat(acc.best, array({best_i})) AS best,
                concat(acc.ways, array({ways_i})) AS ways))"""
    )
    return (
        elist.withColumn("_dp", dp)
        .select(
            "word",
            F.expr("element_at(_dp.best, length(word) + 1)").alias(
                "min_cost_micro"
            ),
            F.expr("element_at(_dp.ways, length(word) + 1)").alias(
                "n_best_paths"
            ),
        )
        .where(F.col("min_cost_micro") < INF)
    )


def unigram_oracle_sql(
    words_cte: str,
    targets_cte: str,
) -> str:
    """DuckDB replay of costs + Viterbi as an unrolled CTE chain (the
    kcore_oracle_sql discipline). The per-level dp tables are AS
    MATERIALIZED: each level is referenced twice (by the next level's
    union AND its candidate join), so DuckDB's default CTE inlining
    would blow the plan up 2^MAX_LEN-fold. ``words_cte`` -> (word, c) for the
    piece model, ``targets_cte`` -> (word) for segmentation (deduped
    here, mirroring unigram_segment's distinct — duplicate target rows
    would otherwise square the edge/dp row counts and inflate ways). Emits
    ``seg`` as (word, min_cost_micro, n_best_paths); the caller
    appends its own SELECT over it."""
    m = MAX_PIECE_LEN - 1
    parts = [
        f"words0 AS ({words_cte})",
        f"targets0 AS (SELECT DISTINCT word FROM ({targets_cte}) "
        f"WHERE length(word) BETWEEN 1 AND {MAX_LEN})",
        f"""pieces AS (
      SELECT substring(word, s, e - s + 1) AS piece,
             CAST(SUM(c) AS BIGINT) AS pc
      FROM words0,
           unnest(generate_series(1, length(word))) AS u1(s),
           unnest(generate_series(s, least(length(word), s + {m}))) AS u2(e)
      GROUP BY 1 HAVING SUM(c) >= {MIN_COUNT})""",
        "tot AS (SELECT CAST(SUM(pc) AS BIGINT) AS tot FROM pieces)",
        f"""costs AS (
      SELECT piece,
             CAST(round(ln(CAST(tot AS DOUBLE) / pc) * {MICRO}) AS BIGINT)
               AS cost
      FROM pieces, tot)""",
        f"""edges AS MATERIALIZED (
      SELECT t.word, u1.s, u2.e, c.cost
      FROM targets0 t,
           unnest(generate_series(1, length(t.word))) AS u1(s),
           unnest(generate_series(u1.s,
                  least(length(t.word), u1.s + {m}))) AS u2(e)
      JOIN costs c ON c.piece = substring(t.word, u1.s, u2.e - u1.s + 1))""",
        "dp0 AS MATERIALIZED (SELECT word, 0 AS i, CAST(0 AS BIGINT) AS"
        " best, CAST(1 AS BIGINT) AS ways FROM targets0)",
    ]
    for i in range(1, MAX_LEN + 1):
        parts.append(
            f"""c{i} AS (
      SELECT e.word, d.best + e.cost AS cand, d.ways
      FROM edges e JOIN dp{i - 1} d ON d.word = e.word AND d.i = e.s - 1
      WHERE e.e = {i}),
    n{i} AS (
      SELECT word, {i} AS i, CAST(MIN(cand) AS BIGINT) AS best,
             CAST(SUM(ways) FILTER (WHERE cand = mc) AS BIGINT) AS ways
      FROM (SELECT *, MIN(cand) OVER (PARTITION BY word) AS mc FROM c{i})
      GROUP BY 1, 2),
    dp{i} AS MATERIALIZED (
      SELECT * FROM dp{i - 1} UNION ALL SELECT * FROM n{i})"""
        )
    parts.append(
        f"""seg AS (
      SELECT t.word, d.best AS min_cost_micro, d.ways AS n_best_paths
      FROM targets0 t
      JOIN dp{MAX_LEN} d ON d.word = t.word AND d.i = length(t.word))"""
    )
    return "WITH " + ",\n    ".join(parts)
