"""Incremental-model machinery (I1): the watermark and the changed-key
set one incremental DAG run is scoped to.

Dataform semantics being mirrored (`/root/reference/definitions/
games_features.sqlx:2-11,99`): on an incremental run the model body sees
only source rows past ``(SELECT MAX(ts) FROM self)`` and the output is
MERGEd into the existing table on ``uniqueKey`` (the merge itself is
``ModelDag.run_persisted``'s delete+insert). The watermark lives IN the
target table (no side-store), exactly like the reference — and the
8 s-vs-4 h lesson (BASELINE.md item 3) is preserved: the source filter
happens before any join/aggregate.

The reference's documented failure mode — watermark column missing from
the target silently degrades to a full scan (`docs/dataform_operations.md:
7-16`) — is an explicit error here instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io


def high_watermark(target: DataFrame, ts_col: str):
    """MAX(ts) of the existing target (None on empty)."""
    if ts_col not in target.columns:
        raise ValueError(
            f"watermark column {ts_col!r} missing from target — this is the "
            "silent full-refresh regression the reference documents; refusing"
        )
    row = target.agg(F.max(ts_col).alias("wm")).collect()[0]
    return row.wm


def watermark_filter(source: DataFrame, ts_col: str, wm) -> DataFrame:
    return source if wm is None else source.where(F.col(ts_col) > F.lit(wm))


def changed_key_set(source: DataFrame, ts_col: str, wm, key_cols: Sequence[str]) -> DataFrame:
    """Distinct keys in the watermark slice — the reference's
    ``games_to_process`` CTE (`games_features.sqlx:8-12`). Feed this to
    ``ModelDag.run_persisted(changed_keys=...)`` to scope every keyed
    input of the incremental models (J6)."""
    return watermark_filter(source, ts_col, wm).select(*key_cols).distinct()


def incremental_dag_cycle(
    spark: SparkSession,
    dag,
    tables: dict[str, DataFrame],
    root: str,
    targets: Sequence[str] | None = None,
) -> dict[str, DataFrame]:
    """One end-to-end incremental Dataform run (I1 + J6): derive the
    changed-key set from the landing source past the persisted watermark,
    then run the DAG with every incremental model's keyed inputs scoped
    to it (`games_features.sqlx:8-18`). First run (no watermark table
    yet) falls back to a full build."""
    if not io.table_exists(root, "games_active"):
        return dag.run_persisted(spark, tables, root, list(targets) if targets else None)
    wm = high_watermark(io.read_table(spark, root, "games_active"), "load_timestamp")
    changed = changed_key_set(tables["games"], "load_timestamp", wm, ["game_id"])
    return dag.run_persisted(
        spark, tables, root, list(targets) if targets else None, changed_keys=changed
    )
