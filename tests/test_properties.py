"""Property-based tests (hypothesis) for operator algebra: invariants that
must hold for ANY input, not just fixtures — merge semantics, packing
arithmetic, split exhaustiveness, exact-dedup idempotence."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.data_too_large],
)

# Example budget for the SPARK-JOB-BOUND properties (r16, r15 VERDICT
# #1: the 989-test suite outgrew the driver's pytest budget — fix the
# wall, not the tests). Each example of these tests runs several Spark
# actions at the ~0.2-0.6 s/job scheduler floor, so example count IS
# their wall clock: 15 examples cost 8-84 s per test while the
# pure-Python properties finish 15 in under a second. Six examples of
# a multi-epoch random history still exercise the same operator
# algebra each run (hypothesis varies inputs run to run); the property
# itself, its strategies, and its assertions are unchanged.
SETTINGS_HEAVY = dict(SETTINGS, max_examples=6)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # key
        st.integers(min_value=0, max_value=5),  # version
        st.text(alphabet="abcde", min_size=0, max_size=4),  # payload
    ),
    min_size=0,
    max_size=40,
)


@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40),
    budget=st.integers(min_value=1, max_value=512),
)
@settings(**SETTINGS)
def test_pack_sequences_arithmetic(spark, toks, budget):
    """Offsets are the exclusive running sum; pack ids are offset // budget."""
    from bgg_data_warehouse_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, tok long"
    )
    got = {
        r.doc_id: (r.pack_offset, r.pack_id)
        for r in pack_sequences(df, "doc_id", "tok", budget).collect()
    }
    run = 0
    for i, t in enumerate(toks):
        assert got[i] == (run, run // budget)
        run += t


@given(
    ids=st.lists(st.integers(min_value=-(2**40), max_value=2**40), unique=True, max_size=40),
    w1=st.integers(min_value=1, max_value=8),
    w2=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_split_exhaustive_and_disjoint(spark, ids, w1, w2):
    """Every row lands in exactly one split regardless of weights/ids."""
    from bgg_data_warehouse_spark.operators.sampling import train_test_split

    if not ids:
        return
    total = w1 + w2 + 2
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    out = train_test_split(
        df, "id", {"a": w1 / total, "b": w2 / total, "c": 2 / total}
    ).collect()
    assert len(out) == len(ids)
    assert {r.split for r in out} <= {"a", "b", "c"}


@given(rows=st.lists(st.text(alphabet="xy", min_size=0, max_size=3), max_size=30))
@settings(**SETTINGS_HEAVY)
def test_dedup_exact_idempotent_and_minimal(spark, rows):
    """dedup_exact keeps exactly one row per distinct content — the lowest
    id — and is idempotent."""
    from bgg_data_warehouse_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )
    once = dedup_exact(df, "text", "doc_id")
    got = {(r.doc_id, r.text) for r in once.collect()}
    expect = {}
    for i, t in enumerate(rows):
        if t not in expect:
            expect[t] = i
    assert got == {(i, t) for t, i in expect.items()}
    twice = dedup_exact(once, "text", "doc_id")
    assert {(r.doc_id, r.text) for r in twice.collect()} == got


asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=10_000),  # ts seconds
    ),
    min_size=0,
    max_size=25,
)


@given(left=asof_rows, right=asof_rows)
@settings(**SETTINGS_HEAVY)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Both as-of formulations must agree with pandas merge_asof
    (an independent reference implementation) on ANY input: backward,
    inclusive, per-key. Right side deduped per (key, ts) first — as-of
    is ill-defined otherwise (documented contract)."""
    from datetime import datetime, timezone

    import pandas as pd

    from unittest import mock

    from bgg_data_warehouse_spark.operators import asof
    from bgg_data_warehouse_spark.operators.asof import (
        asof_join,
        asof_join_segmented,
    )

    ldf = spark.createDataFrame(
        [(i, k, datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None))
         for i, (k, t) in enumerate(left)],
        "id long, k long, ts timestamp",
    )
    rseen = {}
    for k, t in right:
        rseen[(k, t)] = float(k * 100_000 + t)
    rrows = [
        (k, datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None), v)
        for (k, t), v in rseen.items()
    ]
    rdf = spark.createDataFrame(rrows, "k long, ts timestamp, px double")

    got_w = {
        r.id: r.px
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
        ).collect()
    }
    # ~17 min buckets, so the random timestamps cross bucket boundaries
    with mock.patch.object(asof, "SEGMENT_MICROS", 1_000_000_000):
        got_s = {
            r.id: r.px
            for r in asof_join_segmented(
                ldf, rdf, on="k", left_ts="ts", right_ts="ts", value_cols=["px"]
            ).collect()
        }

    lp = pd.DataFrame(
        {"id": pd.array(range(len(left)), dtype="int64"),
         "k": pd.array([k for k, _ in left], dtype="int64"),
         "ts": pd.to_datetime([pd.Timestamp(t, unit="s") for _, t in left])}
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        {"k": pd.array([k for k, _, _ in rrows], dtype="int64"),
         "ts": pd.to_datetime([t for _, t, _ in rrows]),
         "px": pd.array([v for _, _, v in rrows], dtype="float64")}
    ).sort_values("ts", kind="stable")
    if len(lp):
        ref = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        want = {
            int(r.id): (None if pd.isna(r.px) else float(r.px))
            for r in ref.itertuples()
        }
    else:
        want = {}
    assert got_w == want
    assert got_s == want


# --- multimodal codec roundtrips: decode(encode(x)) == x for ANY payload ---

_pixels = st.integers(min_value=1, max_value=9)


@given(w=_pixels, h=_pixels, data=st.data())
@settings(**SETTINGS)
def test_ppm_roundtrip_property(w, h, data):
    from bgg_data_warehouse_spark.multimodal import decode_image, make_ppm

    pix = data.draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3), label="pixels"
    )
    got_w, got_h, got_rgb = decode_image(make_ppm(w, h, pix))
    assert (got_w, got_h, got_rgb) == (w, h, pix)


@given(w=_pixels, h=_pixels, mode=st.sampled_from(["vary", "none"]), data=st.data())
@settings(**SETTINGS)
def test_png_roundtrip_property(w, h, mode, data):
    """decode(encode(x)) == x for arbitrary pixels under BOTH filter
    policies — 'vary' walks every PNG filter type across the rows, so
    this property pins all five reconstructions, and the RGBA branch
    must strip alpha back to the same RGB array."""
    from bgg_data_warehouse_spark.multimodal import decode_image, make_png

    pix = data.draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3), label="pixels"
    )
    assert decode_image(make_png(w, h, pix, filter_mode=mode)) == (w, h, pix)
    alpha = data.draw(st.binary(min_size=w * h, max_size=w * h), label="alpha")
    assert decode_image(
        make_png(w, h, pix, alpha_bytes=alpha, filter_mode=mode)
    ) == (w, h, pix)


@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.sampled_from([1, 2]),
    bits=st.sampled_from([8, 16]),
    pcm=st.binary(min_size=0, max_size=64),
)
@settings(**SETTINGS)
def test_wav_roundtrip_property(rate, channels, bits, pcm):
    from bgg_data_warehouse_spark.multimodal import decode_audio, make_wav

    block = channels * bits // 8
    pcm = pcm[: len(pcm) - len(pcm) % block]  # whole frames only
    got_rate, got_ch, got_n, got_pcm = decode_audio(
        make_wav(pcm, sample_rate=rate, channels=channels, bits=bits)
    )
    assert (got_rate, got_ch, got_pcm) == (rate, channels, pcm)
    assert got_n == len(pcm) // block


@given(w=_pixels, h=_pixels, ow=_pixels, oh=_pixels, data=st.data())
@settings(**SETTINGS)
def test_resize_property_dims_and_pixel_provenance(w, h, ow, oh, data):
    """Resized output has exactly the requested dims and every output
    pixel is SOME source pixel (nearest-neighbor never invents values)."""
    from bgg_data_warehouse_spark.multimodal import (
        decode_image,
        make_ppm,
        resize_image,
    )

    pix = data.draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3), label="pixels"
    )
    rw, rh, rgb = decode_image(resize_image(make_ppm(w, h, pix), ow, oh))
    assert (rw, rh, len(rgb)) == (ow, oh, ow * oh * 3)
    src_pixels = {pix[i * 3 : i * 3 + 3] for i in range(w * h)}
    out_pixels = {rgb[i * 3 : i * 3 + 3] for i in range(ow * oh)}
    assert out_pixels <= src_pixels


@given(
    corpus=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24),
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS_HEAVY)
def test_bigram_perplexity_matches_python_reference(spark, corpus):
    """Train+score on a random corpus must equal a direct Python bigram
    model: same counts, same integer micro-nat NLL, same perplexity."""
    import math

    from bgg_data_warehouse_spark.operators.lm_score import bigram_perplexity

    docs = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc: (r.n_bigrams, r.nll_micro) for r in bigram_perplexity(df, "doc_id", "text").collect()}

    bi: dict[tuple, int] = {}
    per_doc: dict[int, dict] = {}
    for i, t in docs:
        toks = [w for w in t.lower().split() if w]
        d = per_doc.setdefault(i, {})
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
            d[(a, b)] = d.get((a, b), 0) + 1
    uni: dict[str, int] = {}
    for (a, _), c in bi.items():
        uni[a] = uni.get(a, 0) + c
    vocab = {a for a, _ in bi} | {b for _, b in bi}
    expect = {}
    for i, d in per_doc.items():
        if not d:
            continue
        nll = -sum(
            m * round(math.log((bi[k] + 1) / (uni[k[0]] + len(vocab))) * 1_000_000)
            for k, m in d.items()
        )
        expect[i] = (sum(d.values()), nll)
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000_000),
            st.integers(min_value=1, max_value=1000),
        ),
        min_size=0,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    k=st.integers(min_value=1, max_value=20),
)
@settings(**SETTINGS)
def test_weighted_sample_topk_matches_python_reference(spark, rows, k):
    """The selected SET must equal the Python A-ES computation with the
    same deterministic hash-uniform, for any ids/weights/k."""
    import math

    from bgg_data_warehouse_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame(rows, "id long, w long") if rows else None
    if df is None:
        return
    got = {r.doc for r in weighted_sample_topk(df, "id", "w", k).collect()}

    def key(i, w):
        h = (i % 2147483647) * 2654435761 % 2147483647
        return math.log((h + 1) / 2147483649.0) / w

    expect = {i for i, _ in sorted(rows, key=lambda r: (-key(*r), r[0]))[:k]}
    assert got == expect


def test_trigram_backoff_matches_python_reference(spark):
    """Hand corpus where every backoff level fires — seen trigram,
    bigram backoff, unigram backoff, and the unseen-unigram floor —
    checked against a direct Python stupid-backoff computation."""
    import math

    from bgg_data_warehouse_spark.operators.lm_score import trigram_backoff_ppl

    train_rows = [(0, "a b c a b d"), (2, "b c a c a b")]
    score_rows = train_rows + [
        (1, "a b c"),        # seen trigram
        (3, "c a a b c"),    # unseen trigram 'c a a' -> bigram/uni backoff
        (5, "a b zzz b c"),  # zzz unseen anywhere -> floor
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    score = spark.createDataFrame(score_rows, "doc_id long, text string")
    got = {
        r.doc: (r.n_trigrams, r.nll_micro)
        for r in trigram_backoff_ppl(train, score, "doc_id", "text").collect()
    }

    def ngrams(toks, k):
        return [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    tri, bi, uni = {}, {}, {}
    n = 0
    for _, t in train_rows:
        toks = t.split()
        n += len(toks)
        for g in ngrams(toks, 3):
            tri[g] = tri.get(g, 0) + 1
        for g in ngrams(toks, 2):
            bi[g] = bi.get(g, 0) + 1
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
    expect = {}
    for doc, t in score_rows:
        toks = t.split()
        tris = ngrams(toks, 3)
        if not tris:
            continue
        nll = 0
        for w1, w2, w3 in tris:
            if (w1, w2, w3) in tri:
                s = math.log(tri[(w1, w2, w3)] / float(bi[(w1, w2)]))
            elif (w2, w3) in bi:
                s = math.log(0.4 * (bi[(w2, w3)] / float(uni[w2])))
            else:
                s = math.log(0.16 * (uni.get(w3, 1) / float(n)))
            nll -= round(s * 1_000_000)
        expect[doc] = (len(tris), nll)
    assert got == expect


keys_strategy = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=0, max_size=60
)


@given(a=keys_strategy, b=keys_strategy)
@settings(**SETTINGS_HEAVY)
def test_hll_merge_algebra(spark, a, b):
    """HLL grids form a commutative idempotent monoid under MAX-merge:
    merge(A, B) == merge(B, A) == grid(A ∪ B), and merging a grid with
    itself is a no-op. This is the exact property that makes per-day
    partials safe to fold in ANY order (streaming merge-on-read)."""
    from bgg_data_warehouse_spark.operators.sketches import (
        hll_merge,
        hll_register_grid,
    )

    def grid(keys):
        if not keys:
            return None
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        return hll_register_grid(df, "k", m=16)

    ga, gb = grid(a), grid(b)
    if ga is None or gb is None:
        return  # empty side: merge degenerates to the other grid
    ab = sorted((r.register, r.rho) for r in hll_merge(ga.unionByName(gb)).collect())
    ba = sorted((r.register, r.rho) for r in hll_merge(gb.unionByName(ga)).collect())
    direct = sorted((r.register, r.rho) for r in grid(a + b).collect())
    self_merge = sorted(
        (r.register, r.rho) for r in hll_merge(ga.unionByName(ga)).collect()
    )
    assert ab == ba == direct
    assert self_merge == sorted((r.register, r.rho) for r in ga.collect())


@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    split=st.integers(min_value=0, max_value=59),
)
@settings(**SETTINGS_HEAVY)
def test_histogram_sketch_merge_algebra(spark, vals, split):
    """SUM-merge of any two-way split equals the single-pass build, and
    quantile answers off the sketch stay within one bin width of the
    NEAREST-RANK order statistic for ANY value distribution (that value
    provably shares the located bin; the interpolated percentile_cont
    can sit arbitrarily far away across empty bins — e.g. vals [0, 100]
    put p50 at 50 between two occupied bins, which no histogram answer
    can approach)."""
    from bgg_data_warehouse_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
        merge_histogram_sketches,
    )

    split = min(split, len(vals))
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    left = spark.createDataFrame(
        [(float(v),) for v in vals[:split]] or [(None,)], "v double"
    )
    right = spark.createDataFrame(
        [(float(v),) for v in vals[split:]] or [(None,)], "v double"
    )
    merged = sorted(
        (r.bin, r.n)
        for r in merge_histogram_sketches(
            histogram_sketch(left, "v", width=7.5),
            histogram_sketch(right, "v", width=7.5),
        ).collect()
    )
    direct_df = histogram_sketch(df, "v", width=7.5)
    assert merged == sorted((r.bin, r.n) for r in direct_df.collect())
    p50 = {
        r.q: r.est
        for r in histogram_quantiles(direct_df, [0.5], width=7.5).collect()
    }[0.5]
    import math

    nearest_rank = sorted(vals)[max(math.ceil(0.5 * len(vals)), 1) - 1]
    assert abs(p50 - nearest_rank) <= 7.5


# ---------------------------------------------------------------------------
# Unigram-LM Viterbi (operators/unigram.py) vs a pure-Python reference:
# for ANY vocabulary and target set, the Spark lattice DP must produce
# the reference's exact (min_cost, n_best_paths) for every reachable
# target and drop exactly the unreachable ones.
# ---------------------------------------------------------------------------


def _py_unigram(vocab_pairs, targets, max_piece_len=4, min_count=2):
    import math
    from collections import Counter

    pc = Counter()
    for w, c in vocab_pairs:
        for s in range(len(w)):
            for e in range(s + 1, min(len(w), s + max_piece_len) + 1):
                pc[w[s:e]] += c
    pc = {p: n for p, n in pc.items() if n >= min_count}
    total = sum(pc.values())
    # Spark/DuckDB round() is half-away-from-zero; ln args positive
    cost = {p: math.floor(math.log(total / n) * 1e6 + 0.5) for p, n in pc.items()}
    out = {}
    for w in set(targets):
        best = [0] + [None] * len(w)
        ways = [1] + [0] * len(w)
        for i in range(1, len(w) + 1):
            for s in range(max(0, i - max_piece_len), i):
                piece = w[s:i]
                if piece in cost and best[s] is not None:
                    cand = best[s] + cost[piece]
                    if best[i] is None or cand < best[i]:
                        best[i], ways[i] = cand, ways[s]
                    elif cand == best[i]:
                        ways[i] += ways[s]
        if best[-1] is not None:
            out[w] = (best[-1], ways[-1])
    return out


@given(
    vocab=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=4),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=6,
    ),
    targets=st.lists(
        st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=6
    ),
)
@settings(**SETTINGS_HEAVY)
def test_unigram_dp_matches_python_reference(spark, vocab, targets):
    from pyspark.sql import Row

    from bgg_data_warehouse_spark.operators.unigram import (
        unigram_costs,
        unigram_segment,
    )

    want = _py_unigram(vocab, targets)
    costs = unigram_costs(
        spark.createDataFrame([Row(word=w, c=c) for w, c in vocab])
    )
    got = {
        r["word"]: (r["min_cost_micro"], r["n_best_paths"])
        for r in unigram_segment(
            spark.createDataFrame([Row(word=w) for w in targets]), costs
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Grouped prefix scans (partition_cols): for ANY data and bucketing, the
# two-pass scans must equal the per-group global window bit-for-bit.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),    # group
            st.integers(min_value=-50, max_value=50), # key
            st.integers(min_value=-5, max_value=5),   # val
        ),
        min_size=1,
        max_size=60,
    ),
    width=st.sampled_from([1, 7, 100]),
)
@settings(**SETTINGS_HEAVY)
def test_grouped_prefix_scan_matches_per_group_window(spark, rows, width):
    from pyspark.sql import Window

    from bgg_data_warehouse_spark.operators.prefix import (
        global_row_number,
        running_sums,
    )

    df = spark.createDataFrame(
        [(i, g, k, v) for i, (g, k, v) in enumerate(rows)],
        "id long, g long, key long, val long",
    )
    # floor-divide keeps bucket order-aligned for negative keys too
    bucket = F.floor(F.col("key") / width).cast("long")
    got = {
        (r["g"], r["id"]): (r["rs"], r["rn"])
        for r in global_row_number(
            running_sums(
                df, ["val"], bucket, ["key", "id"],
                partition_cols=["g"], out_cols=["rs"],
            ),
            bucket,
            ["key", "id"],
            partition_cols=["g"],
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("key", "id")
    want = {
        (r["g"], r["id"]): (r["rs"], r["rn"])
        for r in df.select(
            "g",
            "id",
            F.sum("val").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("rs"),
            F.row_number().over(w).cast("long").alias("rn"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Merkle commitment: changing ANY single leaf (checksum or count) must
# change the root; equal leaf multisets must agree on every node.
# ---------------------------------------------------------------------------


@given(
    leaves=st.dictionaries(
        st.integers(min_value=0, max_value=7),
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=8,
    ),
    tamper=st.integers(min_value=0, max_value=7),
)
@settings(**SETTINGS_HEAVY)
def test_merkle_root_changes_iff_a_leaf_changes(spark, leaves, tamper):
    from pyspark.sql import Row

    from bgg_data_warehouse_spark.operators.merkle import merkle_tree

    def tree(d):
        df = spark.createDataFrame(
            [Row(bucket=b, checksum=c, n_rows=n) for b, (c, n) in d.items()]
        )
        return {
            (r["level"], r["idx"]): r["h"]
            for r in merkle_tree(df, 8).collect()
        }

    a = tree(leaves)
    mutated = dict(leaves)
    c, n = mutated.get(tamper, (0, 0))
    mutated[tamper] = (c + 1, n)
    b = tree(mutated)
    assert a[(3, 0)] != b[(3, 0)]  # root always moves
    assert a == tree(leaves)       # and is reproducible


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=14,
    ),
    rounds=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS_HEAVY)
def test_sssp_bounded_rounds_matches_bellman_ford(spark, pairs, rounds):
    """On ANY random weighted graph and round bound, every Spark label
    equals the pure-Python Bellman-Ford label after the same number of
    synchronous relaxation rounds — including labels that are still
    above their eventual shortest distance because the bound cut the
    walk short."""
    from bgg_data_warehouse_spark.operators.sssp import sssp_labels
    from pyspark.sql import Row

    triples = sorted(
        {(a, b, w) for a, b, w in pairs if a != b}
        | {(b, a, w) for a, b, w in pairs if a != b}
    )
    if not triples:
        return
    edges = spark.createDataFrame(
        [Row(src=a, dst=b, w=w) for a, b, w in triples]
    )
    seeds = sorted({a for a, _, _ in triples})[:2]
    seed_df = spark.createDataFrame([Row(v=s) for s in seeds])

    # synchronous Bellman-Ford reference, exactly `rounds` rounds
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in triples:
            if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + w
        dist = nxt
    got = {
        r.v: r.dist
        for r in sssp_labels(edges, seed_df, rounds=rounds).collect()
    }
    assert got == dist


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["p1", "p2", "p3"]),
            st.sampled_from(["F", "O"]),
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS_HEAVY)
def test_chisq_cells_match_exact_integer_reference(spark, rows):
    """For ANY contingency sample, the REAL chisq_independence gate's
    per-cell expected_milli and chi2_contrib_micro equal exact Python
    bigint arithmetic and the ALL/ALL row is their exact sum — the
    property the fixture-scale oracle gate samples once, held
    universally. The random rows are written to a temp orders.parquet
    so the test drives the production query body itself, not a copy of
    its expressions."""
    import shutil
    import tempfile
    from collections import Counter

    from bgg_data_warehouse_spark.workload import QUERIES

    tmp = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            rows, "o_orderpriority string, o_orderstatus string"
        ).write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        out = QUERIES["chisq_independence"](spark, tmp).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    got = {
        (x.o_orderpriority, x.o_orderstatus): (
            x.n_obs,
            x.expected_milli,
            x.chi2_contrib_micro,
        )
        for x in out
    }
    cnt = Counter(rows)
    nn = len(rows)
    rr_t = Counter(p for p, _ in rows)
    cc_t = Counter(s for _, s in rows)
    for (pp, ss), o in cnt.items():
        exp = 1000 * rr_t[pp] * cc_t[ss] // nn
        resid = o * nn - rr_t[pp] * cc_t[ss]
        chi = 10**6 * resid * resid // (nn * rr_t[pp] * cc_t[ss])
        assert got[(pp, ss)] == (o, exp, chi)
    assert got[("ALL", "ALL")] == (
        nn,
        sum(v[1] for k, v in got.items() if k != ("ALL", "ALL")),
        sum(v[2] for k, v in got.items() if k != ("ALL", "ALL")),
    )
    assert len(got) == len(cnt) + 1


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=0,
        max_size=30,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.data_too_large])
def test_star_cc_contract_path_matches_union_find(spark, edges):
    """The round-9 forest-contraction path (parent-pointer min + pointer
    jumping + quotient star) must label ANY graph identically to a pure
    union-find — including the quotient edge cases a fixture can miss:
    multiple roots per component, components that collapse entirely in
    phase 1 (isolated supernodes), self-loops, duplicate and two-way
    duplicated edges."""
    from bgg_data_warehouse_spark.operators.components import (
        connected_components_star,
    )
    from tests.test_components import _uf_components

    clean = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges or [(0, 0)], "src: long, dst: long")
    got = {
        r.node: r.canonical
        for r in connected_components_star(df, "src", "dst").collect()
    }
    for n, c in _uf_components(clean).items():
        assert got[n] == c, (edges, n)


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),     # key
        st.integers(min_value=0, max_value=60),    # start
        st.integers(min_value=0, max_value=40),    # duration
    ),
    min_size=1,
    max_size=25,
)


@given(rows=intervals_strategy)
@settings(**SETTINGS)
def test_merge_intervals_matches_python_sweep(spark, rows):
    """Gaps-and-islands (r10 interval_islands): for ANY interval set,
    the distributed running-max formulation must produce exactly the
    islands a sequential sweep produces — same membership, same
    per-key 1-based numbering in start order. Random durations
    exercise the long-interval-swallows-shorts case and exact-touch
    boundaries (start == running max end MERGES) that fixtures can
    only spot-check."""
    from bgg_data_warehouse_spark.operators.sweepline import merge_intervals

    data = [
        (k, s, s + d, i)  # id = input index, the deterministic tiebreak
        for i, (k, s, d) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "k long, s long, e long, id long")
    got = {
        (r["k"], r["id"]): r["island_id"]
        for r in merge_intervals(df, ["k"], "s", "e", order_cols=["id"]).collect()
    }
    # sequential reference sweep
    want = {}
    by_key: dict[int, list] = {}
    for k, s, e, i in data:
        by_key.setdefault(k, []).append((s, i, e))
    for k, ivs in by_key.items():
        ivs.sort()
        island, max_end = 0, None
        for s, i, e in ivs:
            if max_end is None or s > max_end:
                island += 1
            max_end = e if max_end is None else max(max_end, e)
            want[(k, i)] = island
    assert got == want


@given(labs=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_array_mode_smallest_property(spark, labs):
    """The codegen'd array-mode fold (the r10 LPA dense path's vote
    rule) vs Python's Counter for ANY multiset: most frequent element,
    ties to the smallest."""
    from collections import Counter

    from bgg_data_warehouse_spark.operators.label_prop import (
        _array_mode_smallest,
    )

    df = spark.createDataFrame([(labs,)], "labs array<long>")
    got = df.select(_array_mode_smallest(F.col("labs"))).collect()[0][0]
    cnt = Counter(labs)
    want = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert got == want


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ).filter(lambda p: p[0] != p[1]).map(lambda p: (min(p), max(p))),
    min_size=0,
    max_size=25,
)


def _cc_py(pairs):
    """Reference CC: union-find with union-by-min root, so every node's
    root IS its component minimum — the oracle for both incremental
    maintenance directions."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    nodes = set()
    for a, b in pairs:
        nodes.update((a, b))
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in nodes}


@given(edges=edges_strategy, mask=st.lists(st.booleans(), min_size=25, max_size=25))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_cc_update_equals_full_recompute(spark, edges, mask):
    """For ANY split of ANY small graph into base + added delta,
    incremental_components_update(stored CC of base, delta) must equal
    CC(base ∪ delta). Stored/expected labelings come from a pure-Python
    union-find reference so each example costs one Spark op."""
    from bgg_data_warehouse_spark.operators.components import (
        incremental_components_update,
    )

    edges = sorted(set(edges))
    base = [e for e, m in zip(edges, mask) if m]
    delta = [e for e, m in zip(edges, mask) if not m]
    labels0 = spark.createDataFrame(
        list(_cc_py(base).items()) or [], "node long, canonical long"
    )
    delta_df = spark.createDataFrame(delta or [], "src long, dst long")
    got = {
        (r.node, r.canonical)
        for r in incremental_components_update(
            labels0, delta_df, "src", "dst"
        ).collect()
    }
    assert got == set(_cc_py(edges).items())


@given(edges=edges_strategy, mask=st.lists(st.booleans(), min_size=25, max_size=25))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_cc_delete_equals_full_recompute(spark, edges, mask):
    """For ANY deletion subset of ANY small graph,
    incremental_components_delete(stored CC, edges, deleted) must equal
    CC(edges ∖ deleted) — including splits and fully-isolated nodes."""
    from bgg_data_warehouse_spark.operators.components import (
        incremental_components_delete,
    )

    edges = sorted(set(edges))
    deleted = [e for e, m in zip(edges, mask) if m]
    remaining = [e for e, m in zip(edges, mask) if not m]
    labels0 = spark.createDataFrame(
        list(_cc_py(edges).items()) or [], "node long, canonical long"
    )
    edges_df = spark.createDataFrame(edges or [], "src long, dst long")
    deleted_df = spark.createDataFrame(deleted or [], "src long, dst long")
    got = {
        (r.node, r.canonical)
        for r in incremental_components_delete(
            labels0, edges_df, deleted_df, "src", "dst"
        ).collect()
    }
    assert got == set(_cc_py(remaining).items())


# ---------------------------------------------------------------------------
# Round 12: index-maintenance algebra — update == rebuild for ANY corpus,
# delta, and tombstone set (the gates pin one fixture; these pin the law)
# ---------------------------------------------------------------------------

_docs_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=15),  # doc id
    st.text(alphabet="ab c", min_size=0, max_size=12),  # tiny texts, spaces
    max_size=10,
)


@given(
    base=_docs_strategy,
    fresh=_docs_strategy,
    deleted=st.sets(st.integers(min_value=0, max_value=15), max_size=6),
)
@settings(**SETTINGS_HEAVY)
def test_update_postings_equals_rebuild_any_input(spark, base, fresh, deleted):
    """update_postings(stored postings of base, fresh, deleted) must
    equal inverted_postings of the post-update corpus — (base minus
    re-ingested/deleted) plus surviving fresh — for ANY overlap between
    the three sets, including docs both re-ingested and deleted
    (deletion wins)."""
    from bgg_data_warehouse_spark.operators.inverted_index import (
        inverted_postings,
        update_postings,
    )

    schema = "doc_id long, text string"
    base_df = spark.createDataFrame(sorted(base.items()) or [], schema)
    fresh_df = spark.createDataFrame(sorted(fresh.items()) or [], schema)
    del_df = spark.createDataFrame([(d,) for d in sorted(deleted)] or [], "doc_id long")

    merged = update_postings(
        inverted_postings(base_df, "doc_id", "text"),
        fresh_df,
        "doc_id",
        "text",
        deleted_ids=del_df,
    )
    want_corpus = dict(base)
    want_corpus.update(fresh)
    for d in set(fresh) | deleted:
        if d in deleted:
            want_corpus.pop(d, None)
    want_df = spark.createDataFrame(sorted(want_corpus.items()) or [], schema)
    got = {(r.tok, r.doc, r.tf) for r in merged.collect()}
    want = {
        (r.tok, r.doc, r.tf)
        for r in inverted_postings(want_df, "doc_id", "text").collect()
    }
    assert got == want


@given(
    base=_docs_strategy,
    fresh=_docs_strategy,
    deleted=st.sets(st.integers(min_value=0, max_value=15), max_size=6),
)
@settings(**SETTINGS_HEAVY)
def test_update_minhash_index_equals_rebuild_any_input(
    spark, base, fresh, deleted
):
    """Same law for the sketch index: the maintained (doc, shingles,
    sig) rows must equal a fresh minhash_sketch of the post-update
    corpus (docs with no tokens legitimately have no sketch row)."""
    from bgg_data_warehouse_spark.operators.dedup import (
        minhash_sketch,
        update_minhash_index,
    )

    conf = dict(shingle_k=1, num_hashes=4)
    schema = "doc_id long, text string"
    base_df = spark.createDataFrame(sorted(base.items()) or [], schema)
    fresh_df = spark.createDataFrame(sorted(fresh.items()) or [], schema)
    del_df = spark.createDataFrame([(d,) for d in sorted(deleted)] or [], "doc_id long")

    maintained = update_minhash_index(
        minhash_sketch(base_df, "doc_id", "text", **conf),
        fresh_df,
        "doc_id",
        "text",
        deleted_ids=del_df,
        **conf,
    )
    want_corpus = dict(base)
    want_corpus.update(fresh)
    for d in set(fresh) | deleted:
        if d in deleted:
            want_corpus.pop(d, None)
    want_df = spark.createDataFrame(sorted(want_corpus.items()) or [], schema)

    def canon(df):
        return {
            (r.doc, frozenset(r.shingles), tuple(r.sig)) for r in df.collect()
        }

    assert canon(maintained) == canon(
        minhash_sketch(want_df, "doc_id", "text", **conf)
    )


@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.tuples(
            st.integers(min_value=0, max_value=4),  # band label
            st.lists(st.integers(min_value=-3, max_value=3), min_size=2, max_size=2),
        ),
        max_size=8,
    ),
    ups=st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.lists(st.integers(min_value=-3, max_value=3), min_size=2, max_size=2),
        ),
        max_size=5,
    ),
    deleted=st.sets(st.integers(min_value=0, max_value=12), max_size=4),
)
@settings(**SETTINGS_HEAVY)
def test_incremental_neighbors_equals_rebuild_any_input(
    spark, base, ups, deleted
):
    """incremental_neighbors(stored, base, upserts, deleted) must equal
    a full rebuild on the post-update corpus for ANY overlap — new ids,
    re-embedded ids (possibly moving bands), deletes, and ids both
    upserted and deleted (deletion wins). Zero vectors are excluded
    (cosine undefined)."""
    from bgg_data_warehouse_spark.operators.band_join import (
        banded_cosine_pairs,
        incremental_neighbors,
    )
    from bgg_data_warehouse_spark.operators.latest import topk_per_key

    def ok(v):
        return any(x != 0 for x in v[1])

    base = {i: v for i, v in base.items() if ok(v)}
    ups = {i: v for i, v in ups.items() if ok(v)}

    schema = "vec_id long, label double, vec array<double>"

    def mk(d):
        rows = [
            (i, float(lab), [float(x) for x in v]) for i, (lab, v) in sorted(d.items())
        ]
        return spark.createDataFrame(rows or [], schema)

    def _topk(corpus):
        return topk_per_key(
            banded_cosine_pairs(corpus, "vec_id", "label", "vec", 1.0),
            ["s_id"],
            [F.col("cos").desc(), F.col("t_id").asc()],
            k=3,
        ).select(
            F.col("s_id").alias("query_id"),
            F.col("t_id").alias("nbr_id"),
            F.round("cos", 6).alias("cosine_sim"),
            "rank",
        )

    base_df = mk(base)
    stored = _topk(base_df).localCheckpoint(eager=True)
    got = {
        (r.query_id, r.nbr_id, r.cosine_sim, r.rank)
        for r in incremental_neighbors(
            stored,
            base_df,
            mk(ups),
            "vec_id",
            "label",
            "vec",
            1.0,
            3,
            deleted_ids=spark.createDataFrame(
                [(d,) for d in sorted(deleted)] or [], "vec_id long"
            ),
        ).collect()
    }
    final = dict(base)
    final.update(ups)
    for d in deleted:
        final.pop(d, None)
    want = {
        (r.query_id, r.nbr_id, r.cosine_sim, r.rank)
        for r in _topk(mk(final)).collect()
    }
    assert got == want
