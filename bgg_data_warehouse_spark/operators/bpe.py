"""BPE tokenizer training + encoding as pure DataFrame ops.

Byte-pair-encoding merge learning (Sennrich, Haddow & Birch, "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016) is the
capstone of the tokenizer bridge (text_vectorize.py is word-level):
iteratively find the most frequent adjacent symbol pair and merge it,
``num_merges`` times, then encode text with the learned merges.

Shape at 100 TB — the industrial-trainer decomposition:

- **One corpus-sized pass, ever.** The corpus collapses to a distinct
  (word, freq) table up front (one shuffle, vocabulary-bounded); every
  merge round thereafter touches only that word table. This is exactly
  how production BPE trainers scale: they train on word-count
  dictionaries, never on the token stream.
- **Per round**: pair counting is an array-side explode of adjacent
  symbol pairs weighted by word freq (one vocab-sized aggregate); the
  argmax merge plans as TakeOrderedAndProject (per-partition heaps, no
  global sort); applying the merge is a shuffle-free per-word Catalyst
  fold. No driver data round-trip in the loop — the chosen pair rides
  a 1-row broadcast left-join.
- **State pinning**: each round's word table feeds both the next pair
  count and the next fold, so without hard lineage truncation the
  LOGICAL plan doubles per round — a 2^K analysis blowup (measured:
  K=8 un-pinned takes minutes of pure driver planning; pinned, the
  whole train runs in seconds). Each round's state is therefore a
  ``localCheckpoint(eager=True)`` — the same idiom as the other
  iterative operators (components.py, pagerank.py) — and each round
  runs as a small eager job under an iteration-sized shuffle width.
- **Exact by construction**: merge choice is an argmax over INTEGER
  counts with a total deterministic tie-break (count DESC, pair ASC),
  and the greedy left-to-right merge application is a deterministic
  fold — same inputs give the same tokenizer on 1 or 1000 executors,
  which is what lets the whole train+encode pipeline be hash-gated
  against an ANSI-SQL oracle.

Reference parity: no reference counterpart (the reference warehouses
board-game metadata); LLM-pipeline extension in the same precompute
family as `/root/reference/definitions/game_neighbors.sqlx` (train an
artifact once, serve it to every downstream query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from . import iterative
from .iterative import iteration_shuffle_width


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) — the corpus collapsed to its vocabulary. The only
    corpus-sized computation in BPE training."""
    return (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _char_syms(word: F.Column) -> F.Column:
    """Initial symbol sequence: the word's characters."""
    return F.filter(F.split(word, ""), lambda c: c != "")


def _adjacent_pairs(words: DataFrame) -> DataFrame:
    """(a, b, cnt) — corpus-frequency of each adjacent symbol pair.

    Pair formation is array-side (two slices zipped), so the only
    shuffle is the vocab-bounded (a, b) aggregate.
    """
    n1 = F.greatest(F.size("syms") - 1, F.lit(0))
    pairs = words.select(
        "freq",
        F.slice(F.col("syms"), 1, n1).alias("_l"),
        F.slice(F.col("syms"), 2, n1).alias("_r"),
    ).select("freq", F.explode(F.arrays_zip("_l", "_r")).alias("p"))
    return pairs.groupBy(
        F.col("p._l").alias("a"), F.col("p._r").alias("b")
    ).agg(F.sum("freq").alias("cnt"))


def _apply_merge(syms: F.Column, a: F.Column, b: F.Column) -> F.Column:
    """Greedy left-to-right non-overlapping merge of (a, b) -> a||b.

    A single fold: append each symbol, except when the running output
    ends with ``a`` and the next symbol is ``b`` — then replace that
    tail with the merged symbol. Replacing consumes both, so "aaa"
    under (a,a) gives ["aa","a"], the standard BPE semantics. A NULL
    pair (no merge learned this round) falls into the append branch
    everywhere and leaves the word unchanged.
    """
    merged = F.concat(a, b)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            a.isNotNull()
            & (F.size(acc) > 0)
            & (F.element_at(acc, -1) == a)
            & (s == b),
            F.concat(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                F.array(merged),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _merge_scan(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right non-overlapping (a, b) -> a||b merge — the
    driver-side twin of ``_apply_merge`` (equivalent by the fold's
    docstring argument: a merged symbol a||b can never re-equal ``a``,
    so the fold only ever merges original occurrences, exactly like
    this scan; the property test pins both against one reference)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_bpe_driver(
    spark, rows, num_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Driver-solved merge loop over a BOUNDED (word, freq) vocabulary.

    The merge choice argmax and the per-word merge application are
    k·|vocab|-bounded pure functions of the collected word counts, so
    past the one distributed corpus pass (the word-count aggregate that
    produced ``rows``) the whole train is the sanctioned
    bounded-subproblem driver solve (components/_union_find_pairs,
    kmeans literal centroids — guide §5): num_merges x 2 tiny Spark
    jobs become zero. Tie-break (cnt DESC, a ASC, b ASC) compares
    Python strings by code point = Spark's UTF8 binary order; counts
    are exact integers — the learned model is bit-identical.
    """
    state = [[r["word"], r["freq"], list(r["word"])] for r in rows]
    merges: list[tuple] = []
    for k in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for _w, f, syms in state:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break  # pair-less rounds learn nothing and change nothing
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, a, b, cnt))
        for rec in state:
            rec[2] = _merge_scan(rec[2], a, b)
    from .components import _driver_relation

    return (
        _driver_relation(
            spark, merges, "rank long, a string, b string, cnt long"
        ),
        _driver_relation(
            spark,
            [tuple(rec) for rec in state],
            "word string, freq long, syms array<string>",
        ),
    )


def learn_bpe(
    df: DataFrame,
    text_col: str,
    *,
    num_merges: int,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges over a corpus.

    Returns ``(merges, words)``: ``merges`` is (rank, a, b, cnt) in
    learned order; ``words`` is the final symbolized vocabulary
    (word, freq, syms) — every corpus word already encoded under all
    learned merges, which is what corpus encoding joins against (see
    ``encode_bpe``). On a corpus with fewer distinct pairs than
    ``num_merges``, later rounds learn nothing and emit no merge row.

    When the vocabulary fits ``iterative.DRIVER_SOLVE_MAX`` the merge loop runs
    entirely on the driver (``_learn_bpe_driver``): ONE distributed
    corpus pass (the word-count aggregate) instead of 2 tiny Spark
    jobs per merge round — measured 40 jobs -> 3 on the 8-merge gate
    (r15, guide §2.6/§5). Past the cap the distributed loop below runs
    unchanged; both paths are bit-identical (property-tested).
    """
    if num_merges < 1:
        raise ValueError(
            f"learn_bpe: num_merges must be >= 1, got {num_merges}"
        )
    solve_max = iterative.DRIVER_SOLVE_MAX
    probe = _word_counts(df, text_col).limit(solve_max + 1).collect()
    if len(probe) <= solve_max:
        return _learn_bpe_driver(df.sparkSession, probe, num_merges)
    base = _word_counts(df, text_col).select(
        "word", "freq", _char_syms(F.col("word")).alias("syms")
    )
    words = base.localCheckpoint(eager=True)
    # every subsequent round is vocab-sized: shrink the per-round
    # shuffle width to the state's volume (iterative.py — the same
    # scheduling fix measured on CC/pagerank), then run each round as a
    # small eager job so lineage never compounds.
    with iteration_shuffle_width(df.sparkSession, words.count()):
        merge_rounds: list[DataFrame] = []
        for k in range(num_merges):
            top = (
                _adjacent_pairs(words)
                .orderBy(
                    F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
                )
                .limit(1)
                .localCheckpoint(eager=True)
            )
            merge_rounds.append(
                top.select(F.lit(k).cast("long").alias("rank"), "a", "b", "cnt")
            )
            # 1-row broadcast left-join on TRUE: an empty `top`
            # (pair-less round) must leave words intact, never wipe
            # them (a crossJoin with an empty side would).
            sel = top.select(F.col("a").alias("_ma"), F.col("b").alias("_mb"))
            words = (
                words.join(F.broadcast(sel), F.lit(True), "left")
                .select(
                    "word",
                    "freq",
                    _apply_merge(
                        F.col("syms"), F.col("_ma"), F.col("_mb")
                    ).alias("syms"),
                )
                .localCheckpoint(eager=True)
            )
    merges = merge_rounds[0]
    for m in merge_rounds[1:]:
        merges = merges.unionAll(m)
    return merges, words


def encode_bpe(
    df: DataFrame, id_col: str, text_col: str, words: DataFrame
) -> DataFrame:
    """(doc, n_pieces, pieces_json) — each document's token stream
    encoded through the trained word table (``learn_bpe``'s second
    output): posexplode tokens, join word -> piece sequence (the word
    table is vocabulary-bounded; AQE broadcasts it when small), and
    reassemble in position order with one aggregate — no per-doc window.
    Tokens outside the trained vocabulary are dropped by the inner join
    (train-on-corpus encodes its own corpus totally).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    joined = toks.join(
        words.select(F.col("word").alias("tok"), "syms"), "tok"
    )
    return joined.groupBy("doc").agg(
        F.sum(F.size("syms")).alias("n_pieces"),
        F.to_json(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "syms"))
                ).getField("syms")
            )
        ).alias("pieces_json"),
    )
