"""JSONL landing source with corrupt-record quarantine.

The reference's landing path is API-XML only (sources/bgg_xml.py covers
it); real warehouse landings also receive newline-delimited JSON drops
whose individual records can be malformed. This adapter reads JSONL
against a DECLARED schema in PERMISSIVE mode, splits clean rows from
corrupt ones, and ships the corrupt originals to a quarantine table
instead of failing the batch or silently nulling fields — the
schema-enforcement + conformance behavior `schemas.py` applies to XML,
extended to JSON drops (reference parity: the pre-write PK/conformance
validation family, /root/reference/src/data_processor/processor.py:619-710).

Scale shape: PERMISSIVE parsing is scan-side (one pass, splittable
line format, no Python); the split is two filters over one cached scan.
A bad-row RATIO guard (not a count) keeps the check driver-scalar.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


@dataclass
class JsonlBatch:
    """Result of a quarantined JSONL read.

    Cache lifetime contract: ``clean`` and ``quarantine`` are filters
    over ONE cached scan (``raw``) so that the ratio guard's two counts
    and the caller's subsequent clean/quarantine writes all share a
    single pass over the drop. The cache belongs to the caller from the
    moment this object is returned — call :meth:`unpersist` once both
    branches are consumed (a long-lived session that reads many drops
    and never releases them accumulates cached partitions)."""

    clean: DataFrame
    quarantine: DataFrame  # (raw, reason)
    n_clean: int
    n_quarantined: int
    raw: DataFrame  # the cached one-scan parent of both branches

    def unpersist(self, blocking: bool = False) -> None:
        """Release the shared scan cache once the batch is consumed."""
        self.raw.unpersist(blocking)


def read_jsonl_quarantined(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
) -> JsonlBatch:
    """Read JSONL at ``path`` against ``schema_ddl``; split clean vs
    corrupt. Raises if more than half the records are corrupt —
    a mostly-bad drop is a producer bug, not data to quarantine.

    The corrupt capture column must be part of the read schema
    (Spark populates it ONLY for unparseable lines; parseable lines
    with missing fields conform via nulls, which downstream
    conformance checks own, as with XML).
    """
    schema = f"{schema_ddl}, {CORRUPT_COL} string"
    raw = spark.read.schema(schema).json(path)
    # one scan feeds both branches; the filter column is scan-side
    raw = raw.cache()
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw"),
        F.lit("unparseable_json").alias("reason"),
    )
    n_clean = clean.count()
    n_bad = quarantine.count()
    total = n_clean + n_bad
    if total and n_bad / total > 0.5:
        raw.unpersist()  # refused drop: nobody will consume the batch
        raise ValueError(
            f"read_jsonl_quarantined: {n_bad}/{total} records corrupt "
            "(> 50%) — refusing the drop"
        )
    return JsonlBatch(clean, quarantine, n_clean, n_bad, raw)
