"""WordPiece-style greedy longest-match tokenization, learned from the
corpus — the third member of the tokenizer family (BPE merge-learning in
``bpe.py``, frequency vocab + id encoding in ``text_vectorize.py``).

Two stages:

1. ``build_piece_vocab`` — the piece inventory: every single character
   seen in the corpus (so segmentation can never dead-end) plus the
   top-``n_multi`` multi-character substrings (length 2..``MAX_PIECE_LEN``)
   by corpus-frequency-weighted occurrence count, deterministic
   (count DESC, piece ASC) tie-break.
2. ``wordpiece_encode`` — greedy longest-match-first segmentation
   (the WordPiece/SentencePiece serving algorithm, without the ``##``
   word-internal marking): from each position try the longest vocab
   piece first; single-char pieces guarantee one-symbol progress.

Scale shape: both stages run on the DISTINCT-word relation — bounded by
vocabulary, never corpus row count (the same distinct-word trick as
``bpe.py``). The greedy loop is data-iterative: each round is four
broadcast piece-lookup joins (the piece vocab is parameter-bounded:
|chars| + n_multi rows, so the broadcast hint is safe by construction)
plus a projection, with per-round lineage truncation (a
``localCheckpoint``).
Rounds needed = longest word in symbols; every round advances every
unfinished word by >= 1 char.

No reference counterpart (the reference has no tokenizer); family
extension alongside bpe.py, cited from the same SURVEY §2.9 scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import iterative

# longest piece the vocabulary may hold and the encoder tries first
MAX_PIECE_LEN = 4


def build_piece_vocab(
    words: DataFrame,
    *,
    n_multi: int = 12,
) -> DataFrame:
    """(piece, cnt) from a (word, freq) relation.

    ``cnt`` is the frequency-weighted number of occurrences of the
    substring across the corpus (a word contributes freq x per start
    position). All length-1 pieces are kept unconditionally; longer
    pieces take the top-``n_multi`` cut (TakeOrdered — per-partition
    heaps, no global sort).
    """
    subs = (
        words.select(
            "word",
            "freq",
            F.explode(
                F.expr("sequence(1, length(word))")
            ).alias("s"),
        )
        .select(
            "word",
            "freq",
            "s",
            F.explode(
                F.expr(f"sequence(1, {MAX_PIECE_LEN})")
            ).alias("l"),
        )
        .where(F.expr("s + l - 1 <= length(word)"))
        .select(
            F.expr("substr(word, s, l)").alias("piece"),
            "freq",
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = subs.where(F.length("piece") == 1)
    multi = (
        subs.where(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(n_multi)
    )
    return chars.unionByName(multi)


def wordpiece_encode(
    words: DataFrame,
    vocab: DataFrame,
    *,
    rounds: int,
) -> DataFrame:
    """Greedy longest-match segmentation of every word.

    Returns (word, freq, toks: array<string>). ``rounds`` must be >=
    the longest word's length in characters (each round emits exactly
    one piece per unfinished word); raises if any word is still
    unfinished after the budget, rather than returning a truncated
    segmentation.
    """
    if rounds < 1:
        raise ValueError(f"wordpiece_encode: rounds must be >= 1, got {rounds}")
    # Driver fast path (r15, guide §2.6/§5 — the sanctioned
    # bounded-subproblem solve): segmentation is a pure per-word
    # function of (word, vocab); the vocab is parameter-bounded by the
    # operator contract (|charset| + n_multi rows) and the distinct-word
    # relation is probed under ``iterative.DRIVER_SOLVE_MAX``. One collect of each
    # replaces ``rounds`` checkpoint jobs + the leftover count
    # (measured: 50 jobs -> 3 on the 8-round gate). The Python greedy
    # replicates the distributed semantics exactly, including the
    # no-piece-matches NULL poisoning (substr/length are code-point
    # based on both sides; set membership = the broadcast equi-lookup).
    solve_max = iterative.DRIVER_SOLVE_MAX
    w_rows = words.limit(solve_max + 1).collect()
    if len(w_rows) <= solve_max:
        vset = {r["piece"] for r in vocab.select("piece").collect()}
        out_rows: list[tuple] = []
        n_leftover = 0
        for r in w_rows:
            word, freq = r["word"], r["freq"]
            pos: int | None = 0
            toks: list[str | None] = []
            for _ in range(rounds):
                if pos is None or pos >= len(word):
                    continue  # finished (or poisoned): row passes through
                for length in range(MAX_PIECE_LEN, 0, -1):
                    if pos + length <= len(word) and word[pos : pos + length] in vset:
                        toks.append(word[pos : pos + length])
                        pos += length
                        break
                else:
                    # no vocab piece matches (vocab missing a char):
                    # the distributed plen is NULL -> pos goes NULL,
                    # toks gains a NULL piece, and the NULL pos drops
                    # the row from the leftover filter — replicated
                    toks.append(None)
                    pos = None
            if pos is not None and pos < len(word):
                n_leftover += 1
            out_rows.append((word, freq, toks))
        if n_leftover:
            raise RuntimeError(
                f"wordpiece_encode: {n_leftover} words unfinished after "
                f"{rounds} rounds — raise the round budget"
            )
        from .components import _driver_relation

        return _driver_relation(
            words.sparkSession,
            out_rows,
            "word string, freq long, toks array<string>",
        )
    # checkpoint the vocab FIRST: the per-length broadcast subsets re-scan it
    # 4x per round, which without materialization would re-run the
    # substring-count aggregate dozens of times inside one job
    vocab = vocab.localCheckpoint(eager=True)
    piece_sets = {
        length: F.broadcast(
            vocab.where(F.length("piece") == length).select(
                F.col("piece").alias(f"p{length}")
            )
        )
        for length in range(1, MAX_PIECE_LEN + 1)
    }
    state = words.select(
        "word",
        "freq",
        F.lit(0).alias("pos"),
        F.expr("cast(array() as array<string>)").alias("toks"),
    )
    for _ in range(rounds):
        st = state
        for length in range(MAX_PIECE_LEN, 0, -1):
            st = st.join(
                piece_sets[length],
                F.expr(
                    f"substr(word, pos + 1, {length}) = p{length} "
                    f"and pos + {length} <= length(word)"
                ),
                "left",
            )
        pc = F.coalesce(
            *[F.col(f"p{length}") for length in range(MAX_PIECE_LEN, 0, -1)]
        )
        plen = F.coalesce(
            *[
                F.when(F.col(f"p{length}").isNotNull(), F.lit(length))
                for length in range(MAX_PIECE_LEN, 0, -1)
            ]
        )
        unfinished = F.col("pos") < F.length("word")
        state = st.select(
            "word",
            "freq",
            F.when(unfinished, F.col("pos") + plen)
            .otherwise(F.col("pos"))
            .alias("pos"),
            F.when(unfinished, F.concat("toks", F.array(pc)))
            .otherwise(F.col("toks"))
            .alias("toks"),
        ).localCheckpoint(eager=True)
    leftover = state.where(F.col("pos") < F.length("word")).count()
    if leftover:
        raise RuntimeError(
            f"wordpiece_encode: {leftover} words unfinished after "
            f"{rounds} rounds — raise the round budget"
        )
    return state.select("word", "freq", "toks")
