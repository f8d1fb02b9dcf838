"""Hash / sketch expressions: content fingerprints, MinHash, SimHash.

Reference parity: the 64-bit feature-change hash
``FARM_FINGERPRINT(TO_JSON_STRING(STRUCT(...)))``
(`/root/reference/definitions/game_features_hash.sqlx:9-29`) maps to
``xxhash64(to_json(struct(...)))`` — equality semantics preserved, hash
values intentionally engine-local (the reference only ever compares the
hash to itself: `game_features_hash.sqlx:36-46`).

MinHash banding and SimHash chunking are the LSH steps of the
LLM-pipeline near-dup joins (operators/dedup.py). Both are pure Catalyst
expressions (xxhash64 + higher-order functions) — no Python in the hot
path, so a 1000-executor cluster computes them at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_fingerprint(*cols: Column | str) -> Column:
    """64-bit change-detection fingerprint of a column tuple (F7)."""
    return F.xxhash64(F.to_json(F.struct(*cols)))


def portable_fingerprint(*cols: Column | str) -> Column:
    """Change-detection fingerprint whose VALUE is engine-portable: md5
    over a \\x1f-separated canonical rendering (every column cast to
    string). Unlike ``content_fingerprint`` (xxhash64-of-JSON, an
    engine-local value only comparable to itself), this one is
    reproducible as ``md5(concat_ws(chr(31), ...))`` in any SQL engine —
    which is what lets a fingerprint query be oracle hash-gated, and
    what a cross-engine pipeline (Spark writer, non-Spark auditor)
    needs. \\x1f (ASCII unit separator) cannot appear in the business
    columns, so the rendering is unambiguous."""
    rendered = [
        (F.col(c) if isinstance(c, str) else c).cast("string") for c in cols
    ]
    return F.md5(F.concat_ws("\x1f", *rendered))


def minhash_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature to one long.

    Returns array<struct<band:int, bucket:long>> — explode + group on
    (band, bucket) to get near-dup candidate pairs. Probability two docs
    share a bucket ≈ 1-(1-j^r)^b for Jaccard j.
    """
    entries = []
    for b in range(bands):
        band_slice = F.slice(signature, b * rows_per_band + 1, rows_per_band)
        bucket = F.xxhash64(F.concat_ws(",", F.transform(band_slice, lambda x: x.cast("string"))))
        entries.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return F.array(*entries)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit sketches (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_chunks(sketch: Column, num_chunks: int = 4, n_bits: int = 64) -> Column:
    """Split an ``n_bits``-wide sketch into ``num_chunks`` equal bit-chunks.

    Pigeonhole LSH for Hamming distance: two sketches within distance
    ``num_chunks - 1`` must agree on at least one chunk, so candidate
    pairs = equi-join on (chunk_index, chunk_value). Returns
    array<struct<chunk:int, value:long>>. ``n_bits`` must match the
    sketch width — chunking a 32-bit sketch as 64 would make the upper
    chunks constant 0 and degenerate the candidate join to all-pairs.
    """
    width = n_bits // num_chunks
    entries = []
    for c in range(num_chunks):
        shifted = F.shiftrightunsigned(sketch, c * width)
        value = shifted.bitwiseAND(F.lit((1 << width) - 1).cast("long"))
        entries.append(F.struct(F.lit(c).alias("chunk"), value.alias("value")))
    return F.array(*entries)


def md5_fold_wide(col: Column, mod: int) -> Column:
    """Fold the first 8 md5 hex chars of ``col`` into a long, mod
    ``mod`` — like operators/importance.py::md5_fold but with ~2^53 of
    spread before the mod, for checksum use. The accumulator maxes at
    Σ 102·256^i (i<8) ≈ 2^62.7, inside signed-64, so no overflow at any
    input. Engine-portable: ``md5_fold_wide_sql`` is the DuckDB
    rendering."""
    h = F.md5(col.cast("string"))
    acc = F.lit(0).cast("long")
    for i in range(1, 9):
        acc = acc * 256 + F.ascii(F.substring(h, i, 1))
    return acc % mod


def md5_fold_wide_sql(expr: str, mod: int) -> str:
    """DuckDB rendering of ``md5_fold_wide`` (same nesting, same values)."""
    h = f"md5(CAST({expr} AS VARCHAR))"
    acc = "CAST(0 AS BIGINT)"
    for i in range(1, 9):
        acc = f"({acc} * 256 + ascii(substr({h},{i},1)))"
    return f"({acc} % {mod})"
