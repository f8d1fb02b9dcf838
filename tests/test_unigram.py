"""Unigram-LM segmentation (operators/unigram.py): semantic fixed
cases for costs, reachability, path counting, and the oracle replay."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bgg_data_warehouse_spark.operators.unigram import (
    INF,
    unigram_costs,
    unigram_oracle_sql,
    unigram_segment,
)


def _words(spark, pairs):
    return spark.createDataFrame([Row(word=w, c=c) for w, c in pairs])


def _seg(spark, vocab_pairs, targets):
    costs = unigram_costs(_words(spark, vocab_pairs))
    t = spark.createDataFrame([Row(word=w) for w in targets])
    return {
        r["word"]: (r["min_cost_micro"], r["n_best_paths"])
        for r in unigram_segment(t, costs).collect()
    }


def test_costs_are_rounded_micro_nats_of_frequency(spark):
    # vocab: "ab" x4 -> pieces a, b, ab each 4; total 12 -> cost ln(3)*1e6
    costs = {
        r["piece"]: r["cost"]
        for r in unigram_costs(_words(spark, [("ab", 4)])).collect()
    }
    import math

    assert costs == {p: round(math.log(3) * 1e6) for p in ("a", "b", "ab")}


def test_min_count_prunes_rare_pieces(spark):
    costs = unigram_costs(_words(spark, [("ab", 4), ("xy", 1)])).collect()
    assert {r["piece"] for r in costs} == {"a", "b", "ab"}


def test_unreachable_words_are_dropped(spark):
    out = _seg(spark, [("ab", 4)], ["ab", "abq"])
    assert "abq" not in out  # 'q' never in vocab
    assert "ab" in out


def test_single_piece_beats_two_and_path_count_is_exact(spark):
    # "abab": pieces all length<=4 incl "abab". One 1-piece path is
    # always cheapest (higher prob than any product); co-optimal
    # counting: segment "aa" in a vocab where all pieces cost the same.
    out = _seg(spark, [("abab", 5)], ["abab"])
    cost_abab = out["abab"][0]
    out2 = _seg(spark, [("abab", 5)], ["ab"])
    assert cost_abab < out2["ab"][0] * 2  # 1 piece < 2-piece path
    assert out["abab"][1] == 1


def test_counts_all_co_optimal_paths(spark):
    # vocab "aa" x2 -> pieces a(4), aa(2); total 6.
    # segment "aaa": paths a|a|a (3*ln(1.5)), a|aa and aa|a (ln(1.5)+ln(3)).
    # ln(1.5)*3 ~ 1.216 > ln(1.5)+ln(3) ~ 1.504? no: 3*0.405=1.216 <
    # 0.405+1.099=1.504 -> best is a|a|a, unique.
    out = _seg(spark, [("aa", 2)], ["aaa"])
    import math

    assert out["aaa"][0] == 3 * round(math.log(6 / 4) * 1e6)
    assert out["aaa"][1] == 1
    # vocab "ab"x2,"ba"x2 -> pieces a=4, b=4 (cost ln(3)) and ab=2,
    # ba=2 (cost ln(6)), total 12. "abab": ab|ab (2*ln6 ~ 3.58) beats
    # a|ba|b (~3.99) and a|b|a|b (~4.39) -> unique best.
    out = _seg(spark, [("ab", 2), ("ba", 2)], ["abab"])
    assert out["abab"][1] == 1
    # true tie: "aba" -> ab|a vs a|ba, both ln(6)+ln(3)
    assert _seg(spark, [("ab", 2), ("ba", 2)], ["aba"])["aba"][1] == 2


def test_max_len_cap_drops_long_targets(spark):
    out = _seg(spark, [("ab", 4)], ["ab" * 10])
    assert out == {}


def test_oracle_replays_spark_exactly(spark):
    rows = [("hash", 5), ("join", 4), ("scan", 3), ("hashjoin", 2)]
    targets = ["hashjoin", "joinscan", "hashhashscan", "scanhash"]
    got = _seg(spark, rows, targets)
    vals = ", ".join(f"('{w}', {c})" for w, c in rows)
    tvals = ", ".join(f"('{w}')" for w in targets)
    sql = (
        unigram_oracle_sql(
            f"SELECT * FROM (VALUES {vals}) t(word, c)",
            f"SELECT * FROM (VALUES {tvals}) t(word)",
        )
        + " SELECT word, min_cost_micro, n_best_paths FROM seg"
    )
    want = {r[0]: (r[1], r[2]) for r in duckdb.connect().execute(sql).fetchall()}
    assert got == want


def test_inf_never_leaks_into_output(spark):
    out = _seg(spark, [("ab", 4)], ["ab", "ba"])
    assert all(c < INF for c, _ in out.values())


def test_duplicate_target_rows_collapse_to_one_distinct_word(spark):
    costs = unigram_costs(_words(spark, [("ab", 4)]))
    t = spark.createDataFrame([Row(word="ab"), Row(word="ab")])
    rows = unigram_segment(t, costs).collect()
    assert len(rows) == 1
    assert rows[0]["n_best_paths"] == 1  # duplicated edges would say 2
