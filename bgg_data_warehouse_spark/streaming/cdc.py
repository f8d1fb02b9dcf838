"""Streaming CDC apply — maintain a latest-state table from a change
stream (the Structured Streaming face of ``operators/merge.
apply_changelog``).

The batch gate (``cdc_upsert``) proves the LWW upsert+delete semantics;
this module runs the same operator as the steady-state consumer loop a
warehouse points at a Debezium-style OLTP feed: each micro-batch of
full-row change images is applied to the stored snapshot with
``apply_changelog`` and the result lands via the staging-dir + atomic
swap rewrite (io.py S9 discipline), so readers never observe a
half-applied batch. The reference's loader stops at insert-if-absent
and delete+insert (`/root/reference/src/data_processor/loader.py:
57-176`); this is the upgrade path once an upstream row feed replaces
batch refreshes — same family as streaming/ingest.py and
streaming/tracking.py (SURVEY §2.9 S8/S9).

Exactly-once state without external transactions:

- Structured Streaming's foreachBatch replays at most the LAST
  uncommitted epoch, never an earlier one, so batches apply in epoch
  order.
- Re-applying the SAME epoch is a no-op by LWW algebra: if the crash
  landed after the swap but before the checkpoint commit, the snapshot
  already reflects the epoch; applying identical change rows again
  picks identical per-key winners against that state (same newest 'U'
  images, deletes of already-absent keys), reproducing the snapshot
  bit-for-bit. The idempotence is pinned by test, not assumed.
- A crash INSIDE the swap itself (between _rewrite's two renames)
  leaves no live table dir, only the ``__old_`` backup — the one state
  where "table missing" must NOT mean "first batch", or the replay
  would silently rebuild state from one epoch. ``apply_cdc_batch``
  therefore calls :func:`io.recover_table` before the existence check;
  the restore-then-replay path is pinned by test.
- Cross-epoch ordering therefore only requires that ``seq_cols`` be
  globally monotone over the log (a commit timestamp + offset — what
  every CDC feed already carries).

Scale shape per batch: one shuffle of the CHANGE batch on the key for
its per-key LWW window, one full-outer join against the snapshot on
the same key (the window's partitioning is reused — audited for the
batch gate in test_plan_audit), one staged rewrite. The join + the
FULL-snapshot rewrite are snapshot-sized — the honest floor for a CDC
consumer without a transactional table format.

That floor is CLOSED by the logged face (r13, riding log_store.py's
generational store — CDC state IS the store's replace-by-key contract
with a composite key): ``apply_cdc_log_batch`` lands each epoch's
surviving images as a generation (delta-sized read AND write — it
never touches the snapshot), ``read_cdc_state_logged`` merges on read,
and ``log_store.compact_if_needed`` folds on the amortized cadence.
The snapshot applier above remains for the read-latency-critical
regime where one plain table with no merge on read wins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..io import (
    read_table,
    recover_table,
    rewrite_table,
    table_exists,
    write_table,
)
from ..operators.merge import apply_changelog

__all__ = [
    "start_streaming_cdc",
    "read_cdc_state",
    "apply_cdc_batch",
    "apply_cdc_log_batch",
    "read_cdc_state_logged",
]


def apply_cdc_batch(
    batch_df: DataFrame,
    root: str,
    name: str,
    *,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
) -> None:
    """Apply ONE batch of change rows to the stored snapshot.

    Exposed separately from the stream wiring so replay behavior is
    directly testable and so a catch-up backfill can drive the same
    code path batch-by-batch.
    """
    # a crash between _rewrite's two renames leaves the snapshot only
    # in its __old_ backup; restore it BEFORE the existence check (and
    # before the empty-batch early-out — an empty catch-up batch must
    # still heal a crashed table) so a replayed epoch merges into full
    # state instead of re-founding the table from one batch
    recover_table(root, name)
    if not batch_df.take(1):
        return
    spark = batch_df.sparkSession
    drop = [op_col, *seq_cols]
    if table_exists(root, name):
        base = read_table(spark, root, name)
        rewrite_table(
            apply_changelog(
                base, batch_df, list(keys), list(seq_cols), op_col=op_col
            ),
            root,
            name,
        )
    else:
        # first batch: the state schema is the change schema minus the
        # log bookkeeping columns; an empty base makes apply_changelog
        # insert every surviving key
        base = batch_df.drop(*drop).limit(0)
        write_table(
            apply_changelog(
                base, batch_df, list(keys), list(seq_cols), op_col=op_col
            ),
            root,
            name,
        )


def start_streaming_cdc(
    stream: DataFrame,
    root: str,
    name: str,
    checkpoint_dir: str,
    *,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
):
    """Consume a change stream into a latest-state table; returns the
    StreamingQuery. ``stream`` must carry the key columns, ``seq_cols``
    (a total order over the log), ``op_col`` in {'U','D'}, and every
    state column (full-row images)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(
            batch_df,
            root,
            name,
            keys=keys,
            seq_cols=seq_cols,
            op_col=op_col,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_cdc_state(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The current snapshot (one row per live key)."""
    return read_table(spark, root, name)


def apply_cdc_log_batch(
    batch_df: DataFrame,
    root: str,
    name: str,
    *,
    keys: Sequence[str],
    seq_cols: Sequence[str],
    op_col: str = "op",
    auto_compact: bool = True,
    max_generations: int = 16,
    max_delta_fraction: float = 0.2,
) -> None:
    """Log-structured twin of :func:`apply_cdc_batch`: the epoch's
    surviving 'U' images (LWW-collapsed per key by ``seq_cols``) land
    as a generation's rows, the surviving 'D' keys as its tombstones —
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
    drop = [op_col, *seq_cols]
    upserts = latest.where(F.col(op_col) == "U").drop(*drop)
    deletes = latest.where(F.col(op_col) == "D").select(*keys)
    if log_store_exists(root, name):
        append_log_delta(
            root, name, upserts, list(keys), tombstones=deletes
        )
        if auto_compact:
            compact_if_needed(
                batch_df.sparkSession,
                root,
                name,
                list(keys),
                max_generations=max_generations,
                max_delta_fraction=max_delta_fraction,
            )
    else:
        # first epoch: state = the surviving images
        init_log_store(upserts, root, name)


def read_cdc_state_logged(
    spark: SparkSession, root: str, name: str, keys: Sequence[str]
) -> DataFrame:
    """The current log-structured state (generational merge; base-only
    after compaction)."""
    from ..log_store import read_log_store

    return read_log_store(spark, root, name, list(keys))
