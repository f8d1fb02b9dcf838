"""Parquet table registry over the driver's TPC-H-ish testdata.

Reads are plain ``spark.read.parquet`` — Catalyst gives predicate pushdown
and column pruning for free as long as downstream code filters/selects
declaratively (verified in tests via ``PushedFilters`` in the formatted
plan). At 100 TB these become partitioned/bucketed catalog tables; the
registry keeps a single chokepoint to swap layout policy without touching
query code.

The ``events.ts`` column has flip-flopped between parquet encodings across
testdata generations (``TIMESTAMP(NANOS)`` → ``timestamp[us]``), so the
loader sniffs the *stored* physical type from the parquet footer (one
driver-side metadata read, no data scan) and adapts:

- ``timestamp[us]`` / ``timestamp[ms]``: native Spark read, pass-through.
- ``TIMESTAMP(NANOS)``: Spark's vectorized reader rejects it; read nanos
  as long (``spark.sql.legacy.parquet.nanosAsLong``, scoped to this
  branch only) and floor to microseconds — the same truncation DuckDB
  applies, so oracle values agree.
"""

from __future__ import annotations

import glob
import os
from typing import Literal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

TsEncoding = Literal["native", "nanos"]

# path -> encoding; parquet testdata is immutable within a run, so one
# footer read per path per process is enough.
_TS_ENCODING_CACHE: dict[str, TsEncoding] = {}


def _events_ts_encoding(path: str) -> TsEncoding:
    """Sniff how ``ts`` is physically stored in the parquet file(s) at
    ``path`` — ``"nanos"`` iff it is TIMESTAMP(NANOS) (which Spark can
    only read via the nanosAsLong legacy long path), else ``"native"``.

    Driver-side pyarrow footer read: O(footer) work, no row-group IO, so
    it is scale-free even when the dataset behind ``path`` is 100 TB.
    """
    cached = _TS_ENCODING_CACHE.get(path)
    if cached is not None:
        return cached

    import pyarrow as pa
    import pyarrow.parquet as pq

    probe = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path!r}")
        probe = parts[0]
    field = pq.read_schema(probe).field("ts")
    enc: TsEncoding = (
        "nanos"
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
        else "native"
    )
    _TS_ENCODING_CACHE[path] = enc
    return enc


def _read_events_raw(spark: SparkSession, path: str) -> tuple[DataFrame, TsEncoding]:
    """Read events with ``ts`` left in its storage domain.

    ``native`` → ``ts`` is a Spark timestamp column; ``nanos`` → ``ts``
    is a LongType of epoch-nanos. The legacy conf is genuinely scoped to
    this one read: Spark captures SQLConf into the plan when the
    DataFrame is CREATED (verified: a nanos DataFrame built under the
    flag collects correctly after the flag is restored), so restoring in
    the ``finally`` cannot break later execution of the returned frame —
    and a later ns-timestamp read of some OTHER table in the same
    session correctly fails loudly instead of silently yielding longs
    (ADVICE r03 #1).
    """
    enc = _events_ts_encoding(path)
    if enc != "nanos":
        return spark.read.parquet(path), enc
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        return spark.read.parquet(path), enc
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df, enc = _read_events_raw(spark, path)
        if enc == "nanos":
            # floor nanos → micros; matches DuckDB's truncation so
            # oracle values agree.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Normalize NTZ → TIMESTAMP so every consumer sees ONE dtype
            # regardless of storage encoding (unix_micros & friends reject
            # NTZ). Session tz is UTC, so the cast is wall-clock-identical
            # and agrees with DuckDB's naive-UTC read of the same file.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_events_after(spark: SparkSession, sf_dir: str, watermark_utc: str) -> DataFrame:
    """events with ``ts > watermark``, filtered in the STORAGE domain.

    Filtering before any derived-column conversion keeps the predicate on
    the physical column so Catalyst pushes it to the scan (min/max
    row-group skipping). For the nanos encoding the public ``ts`` is
    derived (nanos → micros), so the watermark is translated into nanos:
    threshold ``wm_micros * 1000 + 999`` makes the nanos comparison
    exactly equivalent to ``micros(ts) > wm`` after floor-truncation.
    For the native encoding a plain timestamp-literal predicate pushes
    down as-is.
    """
    from datetime import datetime, timezone

    wm = datetime.fromisoformat(watermark_utc).replace(tzinfo=timezone.utc)
    wm_micros = int(wm.timestamp()) * 1_000_000 + wm.microsecond

    raw, enc = _read_events_raw(spark, f"{sf_dir}/events.parquet")
    if enc == "nanos":
        return raw.where(F.col("ts") > F.lit(wm_micros * 1000 + 999)).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # Cast the *literal* (constant-folded) into the column's exact dtype —
    # TIMESTAMP_NTZ vs TIMESTAMP coercion would otherwise cast the column
    # side and defeat pushdown. Session tz is UTC, so the TIMESTAMP→NTZ
    # cast preserves the intended wall-clock instant. After the pushed
    # filter, normalize to TIMESTAMP like load_table does.
    ts_type = raw.schema["ts"].dataType
    wm_lit = F.timestamp_micros(F.lit(wm_micros)).cast(ts_type)
    out = raw.where(F.col("ts") > wm_lit)
    if isinstance(ts_type, T.TimestampNTZType):
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out
