"""BPE merge-learning + encoding (operators/bpe.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(max_examples=8, deadline=None)


def _python_bpe(word_freqs: dict[str, int], num_merges: int):
    """Reference implementation: classic Sennrich-style BPE on a word
    count dictionary, (count DESC, pair ASC) tie-break, greedy
    left-to-right non-overlapping application."""
    state = {w: tuple(w) for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freqs[w]
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        for w, syms in state.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = tuple(out)
    return merges, state


def test_learn_bpe_hand_case(spark):
    """The textbook low/lower/newest corpus: exact merge sequence with
    counts, final word states, and position-ordered encodings."""
    from bgg_data_warehouse_spark.operators.bpe import encode_bpe, learn_bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    merges, words = learn_bpe(df, "text", num_merges=6)
    got = [(r.rank, r.a, r.b, r.cnt) for r in merges.orderBy("rank").collect()]
    assert got == [
        (0, "l", "o", 6),
        (1, "lo", "w", 6),
        (2, "e", "w", 3),
        (3, "n", "ew", 3),
        (4, "e", "r", 2),
        (5, "e", "s", 2),
    ]
    state = {r.word: r.syms for r in words.collect()}
    assert state["low"] == ["low"]
    assert state["lower"] == ["low", "er"]
    assert state["newest"] == ["new", "es", "t"]
    import json

    enc = {r.doc: r for r in encode_bpe(df, "doc_id", "text", words).collect()}
    assert json.loads(enc[1].pieces_json) == [
        "low", "low", "er", "low", "es", "t", "low", "low",
    ]
    assert enc[2].n_pieces == 7


def test_learn_bpe_exhausted_pairs_is_safe(spark):
    """A corpus of single-character words has no pairs: zero merge rows,
    and the word table must survive untouched (the empty-argmax round
    must not wipe state)."""
    from bgg_data_warehouse_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    merges, words = learn_bpe(df, "text", num_merges=3)
    assert merges.count() == 0
    state = {r.word: (r.freq, r.syms) for r in words.collect()}
    assert state == {"a": (2, ["a"]), "b": (1, ["b"]), "c": (1, ["c"])}


@given(
    words=st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=6),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_learn_bpe_matches_python_reference(spark, words, k):
    """Merge sequence AND final symbol states must equal the reference
    Python BPE for arbitrary corpora (same tie-break, same greedy
    application)."""
    from bgg_data_warehouse_spark.operators.bpe import learn_bpe

    # one doc per word, repeated freq times, so corpus word counts match
    text = " ".join(w for w, f in words for _ in range(f))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges, state_df = learn_bpe(df, "text", num_merges=k)
    got_merges = [
        (r.a, r.b, r.cnt) for r in merges.orderBy("rank").collect()
    ]
    got_state = {r.word: tuple(r.syms) for r in state_df.collect()}
    exp_merges, exp_state = _python_bpe(dict(words), k)
    assert got_merges == exp_merges
    assert got_state == exp_state


def test_encode_bpe_positions_and_plan(spark):
    """Encoding preserves token order across shuffles and plans without
    a per-doc window; the vocab join must not shuffle the corpus side
    more than once."""
    from bgg_data_warehouse_spark.operators.bpe import encode_bpe, learn_bpe

    df = spark.createDataFrame(
        [(i, "ab ba ab" if i % 2 else "ba ab") for i in range(20)],
        "doc_id long, text string",
    )
    merges, words = learn_bpe(df, "text", num_merges=1)
    out = encode_bpe(df.repartition(7), "doc_id", "text", words)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    import json

    rows = {r.doc: json.loads(r.pieces_json) for r in out.collect()}
    top = merges.collect()[0]
    merged = top.a + top.b
    for doc, pieces in rows.items():
        expect = []
        for tok in ("ab ba ab" if doc % 2 else "ba ab").split():
            expect.extend([merged] if tok == merged else list(tok))
        assert pieces == expect, (doc, pieces, expect)


def test_learn_bpe_rejects_zero_merges(spark):
    # ADVICE r05: num_merges=0 used to IndexError on merge_rounds[0].
    import pytest

    from bgg_data_warehouse_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError, match="num_merges"):
        learn_bpe(df, "text", num_merges=0)


def test_learn_bpe_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The r15 driver fast path (vocab under ``DRIVER_SOLVE_MAX``) and
    the distributed merge loop (forced via ``DRIVER_SOLVE_MAX=0``) must
    produce identical merges AND word states — the bit-identity claim
    the fast path ships on."""
    from bgg_data_warehouse_spark.operators import iterative
    from bgg_data_warehouse_spark.operators.bpe import learn_bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    fast_m, fast_w = learn_bpe(df, "text", num_merges=6)
    monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", 0)
    slow_m, slow_w = learn_bpe(df, "text", num_merges=6)
    assert [tuple(r) for r in fast_m.orderBy("rank").collect()] == [
        tuple(r) for r in slow_m.orderBy("rank").collect()
    ]
    assert {r.word: (r.freq, r.syms) for r in fast_w.collect()} == {
        r.word: (r.freq, r.syms) for r in slow_w.collect()
    }


def test_wordpiece_driver_and_distributed_paths_agree(spark, monkeypatch):
    """Same dual-path pin for the wordpiece greedy segmentation,
    including the round-budget guard on BOTH paths."""
    import pytest

    from bgg_data_warehouse_spark.operators import iterative
    from bgg_data_warehouse_spark.operators.wordpiece import wordpiece_encode

    words = spark.createDataFrame(
        [("parts", 3), ("pa", 1), ("strap", 2)], "word string, freq long"
    )
    vocab = spark.createDataFrame(
        [("p", 9), ("a", 9), ("r", 9), ("t", 9), ("s", 9),
         ("pa", 5), ("par", 4), ("rt", 3), ("st", 2)],
        "piece string, cnt long",
    )
    fast = {
        r.word: (r.freq, r.toks)
        for r in wordpiece_encode(words, vocab, rounds=5).collect()
    }
    monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", 0)
    slow = {
        r.word: (r.freq, r.toks)
        for r in wordpiece_encode(words, vocab, rounds=5).collect()
    }
    assert fast == slow
    for cap in (0, 200_000):
        monkeypatch.setattr(iterative, "DRIVER_SOLVE_MAX", cap)
        with pytest.raises(RuntimeError, match="unfinished"):
            wordpiece_encode(words, vocab, rounds=1)
