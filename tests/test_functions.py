"""Unit tests for vector/text/hash expression helpers."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _one(df):
    return df.collect()[0]


def test_vector_distances_match_python(spark):
    from bgg_data_warehouse_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        euclidean_distance,
        l2_norm,
    )

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = _one(
        df.select(
            dot_product(F.col("a"), F.col("b")).alias("dot"),
            l2_norm(F.col("a")).alias("na"),
            cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
            euclidean_distance(F.col("a"), F.col("b")).alias("euc"),
        )
    )
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    assert row.dot == dot
    assert row.na == na
    assert abs(row.cos - dot / (na * nb)) < 1e-12
    assert abs(row.euc - math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))) < 1e-12


def test_vector_ops_accept_float_arrays(spark):
    from bgg_data_warehouse_spark.functions.vector import cosine_similarity

    df = spark.createDataFrame([([1.0, 0.0], [1.0, 0.0])], "a array<float>, b array<float>")
    assert abs(_one(df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c"))).c - 1.0) < 1e-12


def test_tokenizers_and_shingles(spark):
    from bgg_data_warehouse_spark.functions.text import (
        token_count_bpeish,
        whitespace_tokens,
        word_tokens,
    )

    df = spark.createDataFrame([("Hello  World, nice day today",)], "text string")
    row = _one(
        df.select(
            whitespace_tokens(F.col("text")).alias("ws"),
            word_tokens(F.col("text")).alias("words"),
            token_count_bpeish(F.col("text")).alias("bpe"),
        )
    )
    assert row.ws == ["Hello", "World,", "nice", "day", "today"]
    assert row.words == ["hello", "world,", "nice", "day", "today"]
    assert row.bpe == 6  # 5 words + 1 comma


def test_predict_lang_stopword_argmax(spark):
    from bgg_data_warehouse_spark.functions.text import predict_lang

    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it was good",),
            ("el gato que se sienta en la alfombra no es",),
            ("der hund ist von den bergen und das ist gut",),
            ("xyzzy plugh qwerty",),
        ],
        "text string",
    )
    out = [r.lang for r in df.select(predict_lang(F.col("text")).alias("lang")).collect()]
    assert out == ["en", "es", "de", "und"]


def test_content_fingerprint_change_detection(spark):
    from bgg_data_warehouse_spark.functions.hashing import content_fingerprint

    df = spark.createDataFrame(
        [(1, "a", 1.5), (1, "a", 1.5), (1, "b", 1.5)], "id long, s string, x double"
    )
    rows = df.select(
        content_fingerprint(F.col("id"), F.col("s"), F.col("x")).alias("h")
    ).collect()
    assert rows[0].h == rows[1].h  # identical tuples hash equal
    assert rows[0].h != rows[2].h  # any field change flips the hash


def test_simhash_near_duplicates_have_small_hamming(spark):
    from bgg_data_warehouse_spark.functions.hashing import hamming64
    from bgg_data_warehouse_spark.operators.dedup import _simhash_sketches

    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    near = base.replace("river", "creek")
    far = "completely unrelated content about database query optimizers and planners"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    sk = _simhash_sketches(df, "id", "text")
    a, b, c = [r.sketch for r in sk.orderBy("doc").collect()]
    dist = spark.createDataFrame([(a, b), (a, c)], "x long, y long").select(
        hamming64(F.col("x"), F.col("y")).alias("d")
    ).collect()
    assert dist[0].d <= 16  # near-dup: minority of bits flipped
    assert dist[1].d > dist[0].d  # unrelated text is farther


def test_pii_redact_cols_counts_and_replacement_order(spark):
    from bgg_data_warehouse_spark.functions.text import pii_redact_cols

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.org and root@h.io, ip 10.0.0.1, acct 123456789."),
            (2, "no pii here at all"),
            (3, "192.168.001.255 padded octets still ipv4; 1234567 is too short"),
        ],
        "id long, text string",
    )
    cols = pii_redact_cols(F.col("text"))
    rows = {
        r.id: r
        for r in df.select(
            "id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_idnum) == (2, 1, 1)
    assert rows[1].redacted == "mail <EMAIL> and <EMAIL>, ip <IP>, acct <ID>."
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_idnum) == (0, 0, 0)
    assert rows[2].redacted == "no pii here at all"  # untouched
    # dotted octets are IPs, not id numbers; 7 digits is below threshold
    assert (rows[3].n_ipv4, rows[3].n_idnum) == (1, 0)
    assert "<IP> padded" in rows[3].redacted and "1234567 is" in rows[3].redacted


def test_repetition_stats_matches_python(spark, tmp_path):
    from bgg_data_warehouse_spark.workload import repetition_stats

    text = "a b c a b c x"  # 7 tokens, 4 distinct; 5 trigrams, 4 distinct
    df = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    r = repetition_stats(spark, str(tmp_path)).collect()[0]
    assert (r.n_tokens, r.distinct_tokens) == (7, 4)
    assert (r.n_grams, r.distinct_grams) == (5, 4)
    assert abs(r.dup_token_frac - round(1 - 4 / 7, 6)) < 1e-9
    assert abs(r.top_gram_share - round(2 / 5, 6)) < 1e-9  # "a b c" twice
