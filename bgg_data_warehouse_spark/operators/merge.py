"""MERGE / delete-insert write-strategy emulation on plain DataFrames.

Reference semantics:

- S6 insert-if-absent MERGE for dimension tables — ``MERGE T USING S ON
  T.id = S.id WHEN NOT MATCHED THEN INSERT``
  (`/root/reference/src/data_processor/loader.py:151-163`,
  `/root/reference/src/modules/id_fetcher.py:113-123`): dimensions keep
  the union of every entity ever seen.
- S7 delete+insert refresh for bridge/detail tables — ``DELETE FROM t
  WHERE game_id IN (...)`` then append
  (`/root/reference/src/data_processor/loader.py:57-84,166-176`).

On parquet (no transactional MERGE without Delta/Iceberg, which aren't in
this image) both reduce to an anti-join + union — one shuffle on the key,
broadcast when the incoming batch is small (the common case: ingest
batches are ~100 games vs a full dimension). The functions are pure
DataFrame → DataFrame so they compose in the DAG and are unit-testable;
`io.py` owns the actual write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    tag_col: str | None = None,
) -> DataFrame:
    """Apply an ordered CDC change log to a base snapshot (LWW upsert+delete).

    ``changes`` carries the key columns, a total order within each key
    (``seq_cols`` — e.g. a commit timestamp plus a log offset tiebreak),
    an ``op`` column in {'U','D'} ('U' = full-row upsert state, 'D' =
    delete), and every non-key column of ``base`` (Debezium-style
    full-row images). The newest change per key wins; keys whose final
    op is 'D' are removed; unmatched base rows pass through.

    This is the change-data-capture twin of S6/S7 above (the reference's
    loader only needed insert-if-absent and delete+insert —
    `/root/reference/src/data_processor/loader.py:57-176`; replaying an
    UPDATE/DELETE log is what the same warehouse needs once an upstream
    OLTP feed replaces batch refreshes). Cost: one shuffle on the key
    for the per-key LWW window, then a full-outer join on the SAME key
    — the window's hash partitioning is reused by the join, so the
    change side is not re-shuffled. Never data-sized on the driver.
    """
    keys = list(keys)
    payload = [c for c in base.columns if c not in keys]
    # the internal working columns must not collide with caller columns —
    # a base/changes frame already carrying '_rn'/'_in_base', or a payload
    # column whose '_chg_' prefix duplicates another, would silently
    # produce wrong or ambiguous results
    reserved = {"_rn", "_in_base", "_chg_op", *(f"_chg_{c}" for c in payload)}
    for frame, label in ((base, "base"), (changes, "changes")):
        clash = reserved.intersection(frame.columns)
        if clash:
            raise ValueError(
                f"apply_changelog: {label} columns collide with internal "
                f"names: {sorted(clash)}"
            )
    if "op" in payload:
        # a base payload column named op would alias to _chg_op twice
        # (once as the op marker, once as the payload rename) — ambiguous
        # downstream, and never what the caller meant
        raise ValueError(
            "apply_changelog: the op column collides with a base payload column"
        )
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in seq_cols]
    )
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            *keys,
            F.col("op").alias("_chg_op"),
            *[F.col(c).alias(f"_chg_{c}") for c in payload],
        )
    )
    joined = base.withColumn("_in_base", F.lit(1)).join(
        last, on=keys, how="full_outer"
    )
    is_chg = F.col("_chg_op").isNotNull()
    out_cols = [
        *keys,
        *[
            F.when(is_chg, F.col(f"_chg_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
    ]
    if tag_col is not None:
        out_cols.append(
            F.when(~is_chg, F.lit("kept"))
            .when(F.col("_in_base").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias(tag_col)
        )
    return joined.where(
        F.col("_chg_op").isNull() | (F.col("_chg_op") == "U")
    ).select(*out_cols)


def refresh_additive_mv(
    prior: DataFrame,
    delta_agg: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental maintenance of an ADDITIVE materialized view.

    ``prior`` is the stored MV state (one row per key tuple, exact
    partial aggregates in ``sum_cols``); ``delta_agg`` is the new batch
    aggregated to the same grain. Additive measures (SUM/COUNT — the
    class incremental view maintenance handles without base re-scan)
    merge by summing: union + one re-aggregate whose input is
    MV-size + delta-size, never base-size. Keys present only in one
    side pass through (their missing side contributes nothing).

    Exactness contract: callers keep measures in DECIMAL/BIGINT so the
    merged state is bit-equal to a full recompute (decimal addition is
    associative; doubles would drift between the two paths). Render to
    double/rounded only at presentation.

    This is the MV twin of the reference's I1 high-watermark
    incremental pattern (streaming/incremental.py,
    /root/reference/definitions incremental tables): I1 ships delta
    ROWS, this ships delta AGGREGATES into pre-aggregated state.
    """
    keys = list(keys)
    cols = [*keys, *sum_cols]
    return (
        prior.select(*cols)
        .unionByName(delta_agg.select(*cols))
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
    )


def merge_insert_missing(
    existing: DataFrame, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Existing rows win; incoming rows are added only for unseen keys.

    Incoming batches are deduped on the key first (the reference dedups
    entities with a Python set — `processor.py:490-522`); existing is
    assumed key-unique.
    """
    fresh = incoming.dropDuplicates(list(keys)).join(
        existing.select(*keys), on=list(keys), how="left_anti"
    )
    return existing.unionByName(fresh.select(*existing.columns))


def delete_insert(
    existing: DataFrame, replacement: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Replace every row whose key tuple appears in ``replacement``.

    The delete set is derived from the replacement batch itself (matching
    the reference, which deletes exactly the refreshed game_ids then
    appends their new rows).
    """
    delete_keys = replacement.select(*keys).dropDuplicates()
    kept = existing.join(F.broadcast(delete_keys), on=list(keys), how="left_anti")
    return kept.unionByName(replacement.select(*existing.columns))
