"""CDC apply into a log-structured latest-state table — the change-
stream face of ``operators/merge.apply_changelog``.

The batch gate (``cdc_upsert``) proves the LWW upsert+delete semantics
of ``apply_changelog``. ``apply_cdc_log_batch`` keeps the same state
without ever reading or rewriting it: each epoch of full-row change
images lands as one ``log_store`` generation (the epoch's surviving 'U'
images as rows, its surviving 'D' keys as tombstones), a read merges
base plus generations newest-first (``log_store.read_log_store``), and
``log_store.compact_if_needed`` folds on the amortized cadence. CDC
state is exactly the store's replace-by-key contract, with a composite
key. The reference's loader stops at insert-if-absent and
delete+insert (`/root/reference/src/data_processor/loader.py:57-176`);
this is the upgrade path once an upstream row feed replaces batch
refreshes (SURVEY §2.9 S8/S9).

Exactly-once state without external transactions:

- epochs apply in order, and ``seq_cols`` must be globally monotone
  over the log (a commit timestamp + offset — what every CDC feed
  already carries);
- re-applying the SAME epoch appends a duplicate generation whose rows
  replace their identical older copies, so a replayed epoch leaves the
  merged state unchanged (pinned by test).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

__all__ = ["apply_cdc_log_batch"]


def apply_cdc_log_batch(
    batch_df: DataFrame,
    root: str,
    name: str,
    *,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    auto_compact: bool = True,
) -> None:
    """Apply one epoch of change rows: the epoch's surviving 'U' images
    (LWW-collapsed per key by ``seq_cols``) land as a generation's
    rows, the surviving 'D' keys as its tombstones —
    nothing snapshot-sized is read OR written per epoch; the newest-
    generation-wins merge at read time IS apply_changelog's LWW
    algebra, one generation per epoch. Replay appends a duplicate
    generation whose rows replace their identical older copies — same
    idempotence shape as the logged postings face, pinned by test."""
    from ..log_store import (
        append_log_delta,
        compact_if_needed,
        init_log_store,
        log_store_exists,
        recover_log_store,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    recover_log_store(root, name)
    if not batch_df.take(1):
        return
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq_cols])
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.where(F.col("op") == "U").drop("op", *seq_cols)
    deletes = latest.where(F.col("op") == "D").select(*keys)
    if log_store_exists(root, name):
        append_log_delta(
            root, name, upserts, list(keys), tombstones=deletes
        )
        if auto_compact:
            compact_if_needed(batch_df.sparkSession, root, name, list(keys))
    else:
        # first epoch: state = the surviving images
        init_log_store(upserts, root, name)
