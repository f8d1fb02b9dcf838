"""Bloom-pruned join: shrink the probe side BEFORE the join shuffle.

The dominant cost of a big⋈small join at 100 TB is shuffling the big
(probe) side. When the build side's key set is selective, a Bloom
filter of it — ``num_bits`` bits, ``num_hashes`` md5-derived positions
per key, packed into an array of longs — broadcasts for ~num_bits/8
bytes and eliminates most non-matching probe rows at the SCAN, so only
the surviving fraction pays the join shuffle. False positives are
dropped by the exact join that follows; the result is bit-identical to
the plain join (which is exactly what the oracle checks).

This is the explicit, caller-controlled form of what Spark's runtime
bloom-filter injection (``spark.sql.optimizer.runtime.bloomFilter.*``)
does adaptively; materializing it as an operator lets a pipeline build
the filter ONCE and reuse it across many probe scans (e.g. pruning a
100 TB corpus against yesterday's dedup survivors).

Everything is Catalyst expressions: the bitmap build is two bounded
aggregations (≤ num_bits/64 rows), the probe test is a ``forall`` over
k packed-word lookups per row — no Python, no UDF, no shuffle added.

Reference parity: no reference counterpart — LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .importance import md5_fold


def _positions(key: Column, *, num_bits: int, num_hashes: int) -> Column:
    """array<long> of the key's ``num_hashes`` bit positions."""
    return F.array(
        *[
            md5_fold(
                F.concat_ws(":", F.lit(i).cast("string"), key.cast("string")),
                num_bits,
            )
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    build: DataFrame, key_col: str, *, num_bits: int = 4096, num_hashes: int = 3
) -> DataFrame:
    """ONE row holding the packed bitmap: (bits: array<long>) of length
    num_bits/64, word w bit b set iff some build key hashes to position
    64·w+b.

    Build shape: explode k positions per key (map-side), group to
    ≤ num_bits/64 (word, or-mask) rows, then assemble the dense array
    with an order-DETERMINISTIC ``array_sort`` over collected (word,
    mask) structs — collect_list alone has no cross-partition order
    guarantee. A spine fills untouched words with 0 so positions index
    the array directly."""
    assert num_bits % 64 == 0, "num_bits must be a multiple of 64"
    spark = build.sparkSession
    n_words = num_bits // 64
    pos = build.select(
        F.explode(
            _positions(F.col(key_col), num_bits=num_bits, num_hashes=num_hashes)
        ).alias("pos")
    )
    # SQL-side shiftleft: the PySpark wrapper only takes a literal
    # shift amount, the SQL expression takes any int expression.
    words = pos.groupBy((F.col("pos") / 64).cast("long").alias("w")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
        ).alias("m")
    )
    spine = spark.range(n_words).select(F.col("id").cast("long").alias("w"))
    dense = spine.join(words, "w", "left").select(
        "w", F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("m")
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "m"))), lambda x: x["m"]
        ).alias("bits")
    )


def bloom_prune(
    probe: DataFrame,
    key_col: str,
    bloom: DataFrame,
    *,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """Rows of ``probe`` whose key passes the Bloom membership test
    (all k bits set). ``bloom`` is ``bloom_build``'s one-row output —
    its broadcast costs num_bits/8 bytes regardless of data scale, so
    the hint is safe by construction. No shuffle: the test is a pure
    filter at the scan."""
    tested = (
        probe.crossJoin(F.broadcast(bloom))
        .withColumn(
            "_bloom_pos",
            _positions(F.col(key_col), num_bits=num_bits, num_hashes=num_hashes),
        )
        .withColumn(
            "_bloom_ok",
            # SQL lambda (the PySpark shiftleft wrapper rejects a
            # column shift amount): every position's bit must be set.
            F.expr(
                "forall(_bloom_pos, p -> "
                "(element_at(bits, CAST(p DIV 64 AS INT) + 1) & "
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
            ),
        )
    )
    return tested.where(F.col("_bloom_ok")).drop("bits", "_bloom_pos", "_bloom_ok")


def bloom_pruned_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str],
    *,
    num_bits: int = 4096,
    num_hashes: int = 3,
) -> DataFrame:
    """probe ⋈ build with the probe side Bloom-pruned first. Result is
    exactly the plain inner join (false positives die in the join);
    only the shuffle volume changes."""
    keys = [on] if isinstance(on, str) else list(on)
    key = keys[0]
    bloom = bloom_build(build, key, num_bits=num_bits, num_hashes=num_hashes)
    pruned = bloom_prune(
        probe, key, bloom, num_bits=num_bits, num_hashes=num_hashes
    )
    return pruned.join(build, keys, "inner")
