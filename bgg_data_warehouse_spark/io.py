"""Layout-aware parquet IO + the reference's write strategies.

Layout policy mirrors `/root/reference/terraform/bigquery.tf` (SURVEY §1.4):

- time-series facts (games, rankings, raw_responses): DAY partition on the
  load/fetch timestamp + sort by game_id within partitions (partition
  pruning ≈ BigQuery DAY partitioning; parquet min/max row-group stats on
  the sorted key ≈ clustering);
- game_profile: integer-range partition ``game_id_bucket = game_id div
  1000`` (`definitions/game_profile.sqlx:6-17`) — point lookups touch one
  bucket directory instead of the full table (the 273.5 MB → 1.9 MB
  lesson in BASELINE.md);
- bridge/detail tables: sorted by game_id, unpartitioned.

Write strategies (loader.py semantics): append (S4), overwrite (S5),
merge_insert_missing (S6), delete_insert (S7). Parquet has no
transactional MERGE without a table format, so the merge strategies
rebuild into a staging directory and atomically swap — single-runner
assumption, exactly the reference's operating model (its lease table is
best-effort too; SURVEY §7 "genuinely hard" (a)).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.merge import delete_insert, merge_insert_missing


def storage_pin(base_dir: str):
    """Parquet round-trip ``Pin`` (operators/dedup.py): materialize a
    multiply-read intermediate to storage and read it back, instead of
    executor-memory cache / localCheckpoint.

    This is the documented 100 TB swap for every iterative/multi-read
    operator here: the pinned set survives executor loss, truncates
    lineage exactly like a reliable checkpoint, and its memory footprint
    is the page cache's problem instead of the block manager's. Each
    pinned frame gets a unique subdirectory under ``base_dir``; the
    caller owns the lifecycle of ``base_dir`` (delete it after the
    consuming job finishes — on a cluster point it at scratch object
    storage with a TTL policy).
    """
    import itertools

    counter = itertools.count()

    def pin(df: DataFrame) -> DataFrame:
        path = os.path.join(base_dir, f"pin-{next(counter):04d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    return pin


@dataclass
class Layout:
    partition_cols: list[str] = field(default_factory=list)
    sort_cols: list[str] = field(default_factory=list)
    derive: dict[str, str] = field(default_factory=dict)  # col -> SQL expr


LAYOUTS: dict[str, Layout] = {
    "games": Layout(["load_date"], ["game_id"], {"load_date": "to_date(load_timestamp)"}),
    "rankings": Layout(["load_date"], ["game_id"], {"load_date": "to_date(load_timestamp)"}),
    "raw_responses": Layout(
        ["fetch_date"], ["game_id"], {"fetch_date": "to_date(fetch_timestamp)"}
    ),
    "request_log": Layout(
        ["request_date"], [], {"request_date": "to_date(request_timestamp)"}
    ),
    "game_profile": Layout(["game_id_bucket"], ["game_id"]),
    # mirrors the reference's clusterBy ["profile", "game_id"]
    # (`definitions/game_neighbors.sqlx:6-8`): a Spark read of one
    # profile prunes to one directory, then in-file game_id sort
    "game_neighbors": Layout(["profile"], ["game_id"]),
}


def _path(root: str, name: str) -> str:
    return os.path.join(root, name)


def _apply_layout(df: DataFrame, layout: Layout) -> DataFrame:
    for col, expr in layout.derive.items():
        if col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
    if layout.sort_cols:
        df = df.sortWithinPartitions(*layout.sort_cols)
    return df


def write_table(df: DataFrame, root: str, name: str, mode: str = "overwrite") -> None:
    layout = LAYOUTS.get(name, Layout())
    out = _apply_layout(df, layout)
    writer = out.write.mode(mode)
    if layout.partition_cols:
        writer = writer.partitionBy(*layout.partition_cols)
    writer.parquet(_path(root, name))


def append_table(df: DataFrame, root: str, name: str) -> None:
    """S4 — append-disposition load."""
    write_table(df, root, name, mode="append")


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    return spark.read.parquet(_path(root, name))


def table_exists(root: str, name: str) -> bool:
    p = _path(root, name)
    return os.path.isdir(p) and any(not e.startswith("_") for e in os.listdir(p))


def recover_table(root: str, name: str, *, restore_only: bool = False) -> bool:
    """Heal the crash windows of :func:`_rewrite`'s two-rename swap.

    The swap is ``rename(final, backup)`` then ``rename(staging,
    final)``: a crash between the two leaves NO live table dir, only a
    ``<final>__old_<id>`` backup (and possibly an incomplete
    ``<final>__stage_<id>``). Any loop that uses "table missing" to
    mean "first write" (the CDC apply loop, the S6/S7 table wrappers,
    incremental refresh, the DAG's incremental policy) would then
    silently rebuild state from one batch — so every such site calls
    this FIRST. If the table is missing, the newest backup (exact
    ordering: the monotonic-ns prefix _rewrite encodes in the backup
    name — directory mtimes can tie on coarse filesystems) is renamed
    back into place and stale leftovers are removed. If the table is
    live, crash leftovers from the OTHER window (died after the swap,
    before backup cleanup) are removed — a snapshot-sized disk leak
    per crash otherwise — which is safe under the documented
    single-runner-per-table model. Never destructive to a live table;
    never removes the dir it restores.

    ``restore_only=True`` is the READ-path mode (ADVICE r14): a serving
    process reading while the single WRITER compacts must never delete
    the writer's in-progress ``__stage_`` dir (a partially-built staging
    could later be swapped in as the table) nor reap backups the writer
    is about to clean itself. In this mode a live table is left exactly
    as found (no sibling cleanup), and a missing table is healed by the
    single newest-backup rename ONLY — with a failed rename (the writer
    re-created the table or restored the backup between our check and
    the rename, i.e. the writer won the race) treated as success for
    the reader. All destructive cleanup stays on the write paths.
    """
    final = _path(root, name)
    if table_exists(root, name):
        if restore_only:
            return False
        for d in _siblings(final, "__old_") + _siblings(final, "__stage_"):
            shutil.rmtree(d, ignore_errors=True)
        return False
    backups = sorted(_siblings(final, "__old_"), key=_backup_order)
    if restore_only:
        if not backups:
            return False
        try:
            os.rename(backups[-1], final)
            return True
        except OSError:
            # writer won the race: it restored this backup or renamed a
            # fresh staging into `final` between our existence check and
            # the rename — the reader's goal (a live table) is met either
            # way, and nothing here may be deleted to "clean up"
            return False
    recovered = False
    if backups:
        # table_exists is False either because `final` is absent OR
        # because it exists holding only underscore-prefixed entries
        # (e.g. a bare _SUCCESS from an interrupted empty write). The
        # rename below needs the target absent — an existing dir makes
        # os.rename raise ENOTEMPTY, and since every first-write site
        # calls this helper, one such dir would wedge all writes to the
        # table. Data-bearing entries are impossible here (they would
        # have made table_exists True), so removal is safe.
        if os.path.isdir(final):
            shutil.rmtree(final)
        os.rename(backups[-1], final)
        recovered = True
        backups = backups[:-1]
    for d in backups + _siblings(final, "__stage_"):
        shutil.rmtree(d, ignore_errors=True)
    return recovered


def _siblings(final: str, marker: str) -> list[str]:
    parent, base = os.path.dirname(final), os.path.basename(final)
    if not os.path.isdir(parent):
        return []
    return [
        os.path.join(parent, e)
        for e in os.listdir(parent)
        if e.startswith(base + marker)
    ]


def _backup_order(d: str):
    """Newest-backup sort key: the zero-padded time_ns prefix _rewrite
    writes into backup names; legacy uuid-only names (no numeric
    prefix) fall back to mtime and sort before any ns-stamped name."""
    tail = os.path.basename(d).split("__old_", 1)[1]
    num = tail.split("_", 1)[0]
    if num.isdigit():
        return (1, int(num), d)
    return (0, os.path.getmtime(d), d)


def _staged_swap(root: str, name: str, build) -> None:
    """Build new contents into a staging dir (``build(staging_path)``
    writes them — one table or several subtables), then atomically swap
    the whole dir into place with the two-rename protocol
    :func:`recover_table` heals. Factoring the swap out of
    :func:`_rewrite` lets MULTI-table state (the neighbors store's
    corpus + neighbors pair) change in ONE atomic unit — both subtables
    land or neither does, so no crash window can publish a corpus
    inconsistent with the index built from it."""
    final = _path(root, name)
    staging = f"{final}__stage_{uuid.uuid4().hex[:8]}"
    build(staging)
    # monotonic-ns prefix makes "newest backup" exact for recover_table
    # (directory mtimes can tie at coarse filesystem granularity)
    backup = f"{final}__old_{time.time_ns():020d}_{uuid.uuid4().hex[:6]}"
    if os.path.exists(final):
        os.rename(final, backup)
    os.rename(staging, final)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def _rewrite(df: DataFrame, root: str, name: str) -> None:
    """Materialize a full-table rewrite via staging dir + atomic swap.

    The merged plan reads the live table lazily; writing over it in place
    would corrupt the scan. Stage next to the target then swap.
    """
    layout = LAYOUTS.get(name, Layout())
    out = _apply_layout(df, layout)

    def build(staging: str) -> None:
        writer = out.write.mode("overwrite")
        if layout.partition_cols:
            writer = writer.partitionBy(*layout.partition_cols)
        writer.parquet(staging)

    _staged_swap(root, name, build)


def rewrite_table(df: DataFrame, root: str, name: str) -> None:
    """Overwrite a table whose new contents READ from the old contents.

    ``write_table(mode="overwrite")`` would delete the files the lazy plan
    is still scanning; this stages + swaps instead.
    """
    _rewrite(df, root, name)


def merge_insert_missing_table(
    spark: SparkSession, incoming: DataFrame, root: str, name: str, keys: list[str]
) -> None:
    """S6 — dimension MERGE: insert keys never seen, never update."""
    recover_table(root, name)  # crashed-swap table must not read as "first write"
    if not table_exists(root, name):
        write_table(incoming.dropDuplicates(keys), root, name)
        return
    existing = read_table(spark, root, name)
    _rewrite(merge_insert_missing(existing, incoming, keys), root, name)


def delete_insert_table(
    spark: SparkSession, replacement: DataFrame, root: str, name: str, keys: list[str]
) -> None:
    """S7 — bridge/detail refresh: replace all rows for the incoming keys."""
    recover_table(root, name)  # crashed-swap table must not read as "first write"
    if not table_exists(root, name):
        write_table(replacement, root, name)
        return
    existing = read_table(spark, root, name)
    _rewrite(delete_insert(existing, replacement, keys), root, name)


# ---------------------------------------------------------------------------
# S6/S7 logged twins (r14 VERDICT #1): the snapshot wrappers above are
# the reference's OWN loader write strategies
# (`/root/reference/src/data_processor/loader.py:57-176`) and sit on the
# ingest hot path — one call per ~100-game process batch
# (`response_processor.py:485-525`) — so at 100 TB every small batch
# pays a table-sized staged rewrite. These twins route the same two
# semantics through the log-structured store (log_store.py), where a
# batch writes ONLY its own generation:
#
# - insert-if-absent = an append of the incoming-anti-stored SURVIVORS
#   (no tombstones; existing rows win by never being touched). The one
#   corpus-sized operation left is a key-projection READ of the store —
#   column-pruned, broadcast-semi'd map-side against the delta's key
#   set, never shuffled.
# - delete+insert = a bare append: the store's replace-by-key merge IS
#   delete+insert (a generation's rows replace every older row for
#   their keys, and the reference derives its delete set from the
#   replacement batch itself, so every deleted key carries new rows).
#   Nothing corpus-sized is read OR written.
#
# Reads merge generationally (read_log_store); compaction folds on the
# amortized cadence with the absolute byte+row bounds. Hash-gated
# end-to-end (generational AND compacted reads vs the S6/S7 oracle
# semantics) by ``loader_log_dim`` / ``loader_log_bridge``.
# ---------------------------------------------------------------------------


# Collect cap for turning a delta-bounded key set into a LITERAL
# IN-probe (same driver-bounded discipline as the CC delete's endpoint
# collect). Loader/MV batches are orders of magnitude under it; above
# it the probes fall back to the broadcast-semi form — always correct,
# merely unpruned.
PROBE_COLLECT_MAX = 100_000


def _touched_rows(
    stored: DataFrame,
    touched_keys: DataFrame,
    keys: list[str],
    *,
    cap: int | None = None,
) -> DataFrame:
    """Stored rows whose key appears in ``touched_keys``. For a
    single-column key under the collect cap the probe is a LITERAL
    IN-filter — on a base compacted under :func:`key_clustered_layout`
    parquet row-group stats prune the scan to the touched keys' files,
    making the read delta-bounded instead of corpus-rows-sized (exact
    In pushdown; session.py raises the parquet In threshold).
    Composite keys and oversized deltas use the broadcast-semi form:
    map-side against the scan, no corpus shuffle either way.

    The literal form is only used while the list stays AT OR UNDER the
    session's parquet exact-In pushdown threshold: above it the scan
    receives just the [min, max] RANGE (no per-value row-group prune —
    the literal probe's entire advantage), while the In expression
    itself still costs O(|list|) to codegen and evaluate per row.
    Measured on mv_log_refresh at sf0.1 (r15): its ~24.5k-key epochs
    under the old 100k cap spent ~19 s of a 28.7 s cold build compiling
    and evaluating giant In-lists; the broadcast-semi form runs the
    same epochs in ~10 s. Delta-bounded probes (the loader/CC shape,
    ~100 keys) stay literal and keep their measured 18x row prune."""
    if cap is None:
        cap = PROBE_COLLECT_MAX
    try:
        pushdown_max = int(
            stored.sparkSession.conf.get(
                "spark.sql.parquet.pushdown.inFilterThreshold"
            )
        )
    except Exception:
        pushdown_max = 10  # Spark's default
    cap = min(cap, pushdown_max)
    if len(keys) == 1:
        vals = [
            r[0]
            for r in touched_keys.limit(cap + 1).collect()
            if r[0] is not None
        ]
        if len(vals) <= cap:
            return stored.where(F.col(keys[0]).isin(vals))
    return stored.join(F.broadcast(touched_keys), keys, "left_semi")


def _log_store_path(root: str, name: str) -> str:
    from .log_store import _store_path

    return _store_path(root, name)


# compaction-layout file sizing: the literal-probe read bound is
# |probe values| x rows-per-file, so the bound stays DELTA-sized only
# while file count tracks data (r15 optimization round, guide §6 —
# closes the "row-group granularity floor" residual the r15 scaling
# curves measured at a FIXED local file count). Default 96 MiB target
# per clustered file; deployments override via env.
LAYOUT_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_LAYOUT_TARGET_BYTES", 96 * 1024 * 1024)
)


def layout_file_count(spark: SparkSession, store_bytes: int | None) -> int:
    """Partition count for a compaction-time clustered layout: the
    cores-proportional floor keeps pruning granularity on small local
    stores (AQE would otherwise fold the tiny range shuffle to ONE
    file), and above ``LAYOUT_TARGET_BYTES`` per file the count grows
    with the store so rows-per-file — and with it the literal probe's
    read bound — stays constant as the corpus grows.
    ``SPARK_GRAFT_LAYOUT_FILES`` still overrides outright (granularity
    experiments, tools/scaling_curve.py)."""
    n_override = os.environ.get("SPARK_GRAFT_LAYOUT_FILES")
    if n_override:
        return int(n_override)
    floor_n = max(spark.sparkContext.defaultParallelism * 4, 16)
    if store_bytes and store_bytes > 0:
        return max(floor_n, -(-store_bytes // LAYOUT_TARGET_BYTES))
    return floor_n


def key_clustered_layout(
    spark: SparkSession, keys: list[str], *, store: str | None = None
):
    """Compaction-time layout clustering a log store's base by its
    replacement key, so the delta-bounded literal key probes
    (:func:`_touched_rows` — the logged loader's insert-if-absent
    anti, the logged MV's prior point-read) row-group-prune instead of
    scanning corpus rows. Explicit partition count for the same reason
    as components_log_layouts: AQE otherwise folds the range shuffle
    to one file and erases the granularity. With ``store`` (the store
    directory), the count additionally tracks the store's on-disk size
    (:func:`layout_file_count`) — base + pending generations at fold
    time are a faithful proxy for the folded size — so rows-per-file
    is bounded at any scale."""
    store_bytes = None
    if store is not None and os.path.isdir(store):
        from .log_store import _dir_bytes

        store_bytes = _dir_bytes(store)
    n_files = layout_file_count(spark, store_bytes)

    def lay(df: DataFrame) -> DataFrame:
        return df.repartitionByRange(n_files, *keys).sortWithinPartitions(
            *keys
        )

    return lay


def _insert_missing_survivors(
    stored: DataFrame, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """The delta-sized survivor set of insert-if-absent: incoming rows
    (key-deduped) whose keys the store has never seen. Shaped for
    100 TB: the stored side is a KEY PROJECTION probed by
    :func:`_touched_rows` (a literal IN-filter that row-group-prunes a
    key-clustered base, else a map-side broadcast semi), and the
    resulting present-key set (≤ incoming-sized) is broadcast back for
    the anti — stored data is never shuffled and, on a compacted
    clustered base, barely read."""
    fresh = incoming.dropDuplicates(keys)
    fresh_keys = fresh.select(*keys).distinct()
    present = _touched_rows(stored.select(*keys), fresh_keys, keys).distinct()
    return fresh.join(F.broadcast(present), keys, "left_anti")


def merge_insert_missing_logged(
    spark: SparkSession,
    incoming: DataFrame,
    root: str,
    name: str,
    keys: list[str],
    *,
    auto_compact: bool = True,
    max_generations: int = 16,
    max_delta_fraction: float = 0.2,
) -> None:
    """S6's log-structured twin — dimension MERGE (insert keys never
    seen, never update) with a batch-sized write: the survivors of
    :func:`_insert_missing_survivors` land as one generation with no
    tombstones. Batches dedupe on the key like the snapshot wrapper
    (reference `processor.py:490-522` dedups entities with a set);
    callers wanting deterministic replays collapse each batch to a
    canonical image per key first (the gate keeps the FIRST image —
    insert-if-absent's natural streaming semantic)."""
    from .log_store import (
        append_log_delta,
        compact_if_needed,
        init_log_store,
        log_store_exists,
        read_log_store,
        recover_log_store,
    )

    recover_log_store(root, name)
    if not log_store_exists(root, name):
        init_log_store(incoming.dropDuplicates(keys), root, name)
        return
    stored = read_log_store(spark, root, name, keys)
    survivors = _insert_missing_survivors(stored, incoming, keys)
    # pinned: the empty-batch probe and the generation write consume
    # the same frame; unpinned, the store's key projection would scan
    # twice. The checkpoint is survivor-sized (delta-bounded).
    survivors = survivors.localCheckpoint(eager=True)
    if survivors.take(1):
        append_log_delta(root, name, survivors, keys)
        if auto_compact:
            compact_if_needed(
                spark,
                root,
                name,
                keys,
                max_generations=max_generations,
                max_delta_fraction=max_delta_fraction,
                layout=key_clustered_layout(
                    spark, keys, store=_log_store_path(root, name)
                ),
            )


def delete_insert_logged(
    spark: SparkSession,
    replacement: DataFrame,
    root: str,
    name: str,
    keys: list[str],
    *,
    auto_compact: bool = True,
    max_generations: int = 16,
    max_delta_fraction: float = 0.2,
) -> None:
    """S7's log-structured twin — bridge/detail refresh (replace ALL
    rows for the incoming keys) as a bare generation append: the
    store's replace-by-key merge already drops every older row of a
    re-ingested key, and the reference derives its delete set from the
    replacement batch itself (every deleted key carries new rows), so
    no tombstones are needed. Per-batch IO is replacement-sized —
    nothing stored is read or rewritten."""
    from .log_store import (
        append_log_delta,
        compact_if_needed,
        init_log_store,
        log_store_exists,
        recover_log_store,
    )

    recover_log_store(root, name)
    if not log_store_exists(root, name):
        init_log_store(replacement, root, name)
        return
    append_log_delta(root, name, replacement, keys)
    if auto_compact:
        compact_if_needed(
            spark,
            root,
            name,
            keys,
            max_generations=max_generations,
            max_delta_fraction=max_delta_fraction,
            layout=key_clustered_layout(
                    spark, keys, store=_log_store_path(root, name)
                ),
        )


def read_loader_table_logged(
    spark: SparkSession, root: str, name: str, keys: list[str]
) -> DataFrame:
    """Current contents of a logged S6/S7 table (generational merge;
    base-only after compaction)."""
    from .log_store import read_log_store

    return read_log_store(spark, root, name, keys)


def refresh_additive_mv_logged(
    spark: SparkSession,
    delta_agg: DataFrame,
    root: str,
    name: str,
    keys: list[str],
    sum_cols: list[str],
    *,
    count_cols: list[str] | None = None,
    auto_compact: bool = True,
    max_generations: int = 16,
    max_delta_fraction: float = 0.2,
) -> None:
    """Additive-MV maintenance with delta-sized IO — the logged twin of
    ``operators.merge.refresh_additive_mv`` (whose storage wrapper, like
    every snapshot maintainer, rewrites the whole MV per refresh): the
    epoch's delta aggregates merge with the stored partials of the
    TOUCHED keys only. Read = a point-read of those keys' stored rows
    (broadcast semi against the store scan — map-side, no corpus
    shuffle; with the store compacted under a key-clustered layout the
    scan itself row-group-prunes); write = ONE generation re-ingesting
    the touched keys' merged partials (replace-by-key). Exactness rides
    the same contract as the snapshot twin: keep ``sum_cols`` in
    DECIMAL/BIGINT so merged state is bit-equal to a full recompute.
    ``count_cols`` are additive BIGINT measures merged identically.
    Hash-gated end-to-end by ``mv_log_refresh``."""
    from .log_store import (
        append_log_delta,
        compact_if_needed,
        init_log_store,
        log_store_exists,
        read_log_store,
        recover_log_store,
    )
    from .operators.merge import refresh_additive_mv

    measure_cols = [*sum_cols, *(count_cols or [])]
    recover_log_store(root, name)
    if not log_store_exists(root, name):
        init_log_store(delta_agg.select(*keys, *measure_cols), root, name)
        return
    stored = read_log_store(spark, root, name, keys)
    touched_keys = delta_agg.select(*keys).distinct()
    prior = _touched_rows(stored, touched_keys, keys)
    merged = refresh_additive_mv(prior, delta_agg, keys, measure_cols)
    # pinned: delta-bounded (touched keys only); the append re-reads it
    merged = merged.localCheckpoint(eager=True)
    append_log_delta(root, name, merged, keys)
    if auto_compact:
        compact_if_needed(
            spark,
            root,
            name,
            keys,
            max_generations=max_generations,
            max_delta_fraction=max_delta_fraction,
            layout=key_clustered_layout(
                    spark, keys, store=_log_store_path(root, name)
                ),
        )


def read_mv_logged(
    spark: SparkSession, root: str, name: str, keys: list[str]
) -> DataFrame:
    """Current MV state (generational merge; base-only after
    compaction)."""
    from .log_store import read_log_store

    return read_log_store(spark, root, name, keys)


def archive_old_rows(
    spark: SparkSession,
    root: str,
    name: str,
    ts_col: str,
    older_than_hours: int = 24,
    archive_dir: str = "archive",
) -> int:
    """S10 — move rows older than the cutoff to a timestamped archive path."""
    recover_table(root, name)  # crashed-swap table must not read as "nothing to archive"
    if not table_exists(root, name):
        return 0
    df = read_table(spark, root, name)
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {older_than_hours} HOURS")
    old = df.where(F.col(ts_col) < cutoff)
    n = old.count()
    if n == 0:
        return 0
    stamp = uuid.uuid4().hex[:8]
    old.write.mode("overwrite").parquet(os.path.join(root, archive_dir, f"{name}_{stamp}"))
    _rewrite(df.where(F.col(ts_col) >= cutoff), root, name)
    return n


def compact_table(
    spark: SparkSession,
    root: str,
    name: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> int:
    """Small-file compaction: rewrite the table into files of roughly
    ``target_file_bytes``, preserving the table's layout (partition
    columns, in-file sort).

    Streaming/incremental appends (S4/S8) accrete one small file per
    micro-batch; at 100 TB a scan of millions of KB-sized files is
    throttled by file-open overhead and footer reads, not I/O. BigQuery
    repacks storage internally — on Spark the engine owns it. Sizing
    uses the CURRENT on-disk byte size (compression-realistic, no row
    sampling); the rewrite is one ``repartition`` (round-robin shuffle)
    into the staging dir and an atomic swap, so concurrent lazy readers
    of the old files are never corrupted. Returns the new file count
    (0 = table absent or already compact).
    """
    recover_table(root, name)  # crashed-swap table must not read as "nothing to compact"
    if not table_exists(root, name):
        return 0
    path = _path(root, name)
    total = 0
    n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    want = max(1, -(-total // target_file_bytes))  # ceil div
    if n_files <= max(want, min_files - 1):
        return 0
    df = read_table(spark, root, name)
    layout = LAYOUTS.get(name, Layout())
    if layout.partition_cols:
        # spread within each partition dir; partitionBy re-splits files
        out = df.repartition(want, *layout.partition_cols)
    else:
        out = df.repartition(want)
    _rewrite(out, root, name)
    n_new = 0
    for dirpath, _dirs, files in os.walk(path):
        n_new += sum(1 for f in files if f.endswith(".parquet"))
    return n_new


def write_bucketed_table(
    df: DataFrame,
    root: str,
    name: str,
    *,
    buckets: int,
    key_cols: list[str],
    database: str = "bucketed",
) -> str:
    """Write a hash-bucketed, in-bucket-sorted table; joins and
    aggregations between tables bucketed the same way on the same keys
    plan with ZERO Exchange (the scan's bucketing satisfies the
    distribution requirement).

    This is the co-located-join discipline for 100 TB fact⋈fact joins
    where neither side broadcasts: pay the bucketing shuffle ONCE at
    write time, then every downstream join/groupBy on the bucket keys is
    shuffle-free (`test_plan_audit.py::test_bucketed_join_is_exchange_free`).
    Bucket metadata lives in the session catalog (``bucketBy`` requires
    ``saveAsTable``); the parquet files land under ``root/name`` like
    every other table. Returns the qualified table name to read back
    with ``spark.table(...)``.
    """
    spark = df.sparkSession
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {database} "
        f"LOCATION '{os.path.join(root, '_bucket_db')}'"
    )
    qualified = f"{database}.{name}"
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *key_cols)
        .sortBy(*key_cols)
        .option("path", _path(root, name))
        .saveAsTable(qualified)
    )
    return qualified


def optimize_table_zorder(
    spark: SparkSession,
    root: str,
    name: str,
    x_col: str,
    y_col: str,
    *,
    bits: int = 16,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_per_split: int = 1,
) -> int:
    """OPTIMIZE ... ZORDER BY (x, y): compact a table AND rewrite it in
    Morton order in one pass — the periodic maintenance command a
    Delta/Iceberg warehouse runs so that two-dimensional point/range
    predicates keep pruning as appends accrete (operators/zorder.py owns
    the code math; compact_table owns plain size-only repacking).

    Sizing mirrors ``compact_table`` (current on-disk bytes →
    ceil(bytes / target)); the rewrite is ``repartitionByRange`` over
    the z-value + an in-file sort, staged and atomically swapped so
    concurrent readers never see a half-written table. The transient
    ``zval`` column is dropped before writing — layout is an on-disk
    property, not a schema change. Returns the new file count (0 =
    table absent).
    """
    from .operators.zorder import zvalue

    if not table_exists(root, name):
        return 0
    path = _path(root, name)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    want = max(min_files_per_split, -(-total // target_file_bytes))  # ceil
    df = read_table(spark, root, name)
    coded = df.withColumn("_zval", zvalue(F.col(x_col), F.col(y_col), bits=bits))
    out = (
        coded.repartitionByRange(want, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
    )
    _rewrite(out, root, name)
    n_new = 0
    for dirpath, _dirs, files in os.walk(path):
        n_new += sum(1 for f in files if f.endswith(".parquet"))
    return n_new


def maintain_components_table(
    spark: SparkSession,
    root: str,
    labels_name: str,
    delta_edges: DataFrame,
    src: str,
    dst: str,
    *,
    deleted: bool = False,
    edges_name: str | None = None,
    canonical_col: str | None = None,
) -> int:
    """End-to-end incremental CC maintenance against STORED state: read
    the label table, absorb the delta (additions by default; with
    ``deleted=True`` the splitting case, which reads the stored edge
    table ``edges_name`` — pass ``canonical_col`` when that table is
    component-annotated so the rescan partition-prunes), and atomically
    swap the updated labels in via the S9 staging machinery
    (:func:`_rewrite` — concurrent readers never see a half-written
    table, crash windows heal via :func:`recover_table`). Returns the
    updated row count. The storage-integration wrapper for
    ``operators.components.incremental_components_update`` /
    ``incremental_components_delete`` — the reference's 8-second
    incremental refresh (docs/dataform_operations.md:15) realized for
    graph state."""
    from .operators.components import (
        incremental_components_delete,
        incremental_components_update,
    )

    labels = read_table(spark, root, labels_name)
    if deleted:
        if edges_name is None:
            raise ValueError("deletion maintenance needs the stored edge table")
        edges = read_table(spark, root, edges_name)
        updated = incremental_components_delete(
            labels, edges, delta_edges, src, dst, canonical_col=canonical_col
        )
    else:
        updated = incremental_components_update(labels, delta_edges, src, dst)
    # the update plans read the CURRENT label files; materialize before
    # the swap renames them out from under the scan
    updated = updated.localCheckpoint(eager=True)
    _rewrite(updated, root, labels_name)
    return updated.count()


def _canon_edge_frame(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Orientation-normalized distinct edge frame: (least, greatest)
    under the caller's column names, so (a,b) and (b,a) are ONE
    replace-key in the edges part of the components log store."""
    return df.select(
        F.least(F.col(src), F.col(dst)).alias(src),
        F.greatest(F.col(src), F.col(dst)).alias(dst),
    ).distinct()


def init_components_log(
    root: str,
    name: str,
    labels: DataFrame,
    edges: DataFrame,
    src: str,
    dst: str,
) -> None:
    """Create the log-structured components store: a PAIRED log store
    (log_store.py) whose parts are the label table (keyed by node) and
    the orientation-normalized edge table (composite-keyed by
    (src, dst)) — both swap, fold, and heal as ONE unit, so no crash
    window can publish labels inconsistent with the edges that produced
    them (the r12 #4 pair-atomicity contract applied to graph state)."""
    from .log_store import init_pair_store

    init_pair_store(
        root,
        name,
        {"labels": labels, "edges": _canon_edge_frame(edges, src, dst)},
    )


def components_log_layouts(
    spark: SparkSession, root: str, name: str, src: str, dst: str
) -> dict:
    """Compaction-time layouts for the components pair store (r14
    VERDICT #4 — the prune property delta-sized appends forgo,
    reinstated at the ONE moment base is rewritten anyway): the folded
    edges are ANNOTATED with the folded labeling (``_comp`` = canonical
    of ``src`` — both endpoints of a stored edge share one) and both
    parts are range-clustered by component, so the NEXT delete epoch's
    ``canonical_col`` path reaches its edges and members through
    LITERAL IN-filters that parquet row-group stats prune to the
    touched components' files — where the unannotated broadcast-semi
    form scans every row (the r14 scaling curves' honest 33-91x
    labels-probe rows slope).

    Freshness contract: ``_comp`` is the canonical AS OF THE FOLD.
    Later epochs merge and split components without re-stamping edges
    (re-stamping a merged component would be component-sized work —
    exactly what delta-sizing forbids), so the annotation is only
    TRUSTED while the store remains fully folded;
    :func:`maintain_components_log` checks for committed generations
    and falls back to the broadcast-semi path the moment one exists.
    The labels read inside the edges callback is consistent because
    ``compact_pair_store`` keeps the old files alive until its swap."""
    from .log_store import read_pair_store

    # explicit range-partition count: without it AQE coalesces the
    # small range shuffle into one file (measured: a 135k-row edges
    # base folded to a SINGLE file — one row group, zero pruning
    # granularity). The pruned probe's read volume is bounded by
    # |probe values| x rows-per-file, so the bound is DELTA-sized
    # exactly when file count grows with the corpus — the count
    # therefore tracks the store's on-disk size past the
    # cores-proportional floor (:func:`layout_file_count`,
    # LAYOUT_TARGET_BYTES per clustered file; base + pending
    # generations at fold time proxy the folded size).
    # SPARK_GRAFT_LAYOUT_FILES overrides for granularity experiments
    # (tools/scaling_curve.py validates the bound by scaling it).
    from .log_store import _dir_bytes, _store_path

    store = _store_path(root, name)
    n_files = layout_file_count(
        spark, _dir_bytes(store) if os.path.isdir(store) else None
    )

    def edges_layout(df: DataFrame) -> DataFrame:
        labels = read_pair_store(spark, root, name, "labels", "node")
        ann = df.drop("_comp").join(
            # inner join is row-preserving here: every stored edge
            # endpoint is a labeled (non-isolated) node by CC invariant
            labels.select(
                F.col("node").alias(src), F.col("canonical").alias("_comp")
            ),
            src,
        )
        return ann.repartitionByRange(n_files, "_comp").sortWithinPartitions(
            "_comp", src, dst
        )

    def labels_layout(df: DataFrame) -> DataFrame:
        # clustered by NODE: the delete epoch's endpoint->canonical
        # probe is a literal node IN-filter (components.py), so node
        # row-group stats prune it; the members probe needs no labels
        # scan at all (derived from the annotation-pruned edge scan)
        return df.repartitionByRange(n_files, "node").sortWithinPartitions(
            "node"
        )

    return {"edges": edges_layout, "labels": labels_layout}


def compact_components_log(
    spark: SparkSession, root: str, name: str, src: str, dst: str
) -> int:
    """Force-fold the components pair store WITH the annotated layout
    (:func:`components_log_layouts`). Returns generations folded."""
    from .log_store import compact_pair_store

    return compact_pair_store(
        spark,
        root,
        name,
        {"labels": "node", "edges": [src, dst]},
        layouts=components_log_layouts(spark, root, name, src, dst),
    )


def maintain_components_log(
    spark: SparkSession,
    root: str,
    name: str,
    delta_edges: DataFrame,
    src: str,
    dst: str,
    *,
    deleted: bool = False,
    auto_compact: bool = True,
    max_generations: int = 16,
    max_delta_fraction: float = 0.2,
    max_delta_bytes: int | None = None,
    annotate_on_compact: bool = False,
) -> int:
    """Log-structured CC maintenance (r13 VERDICT #5) — the delta-sized
    WRITE answer to :func:`maintain_components_table`'s snapshot-sized
    staged rewrite (the r13 scaling curves show that rewrite's twin
    shuffling 86-100x across a 100x base step): one epoch of edge
    additions (or, with ``deleted=True``, deletions) lands as ONE
    generation of the paired store holding only the CHANGE SET —
    relabeled/new label rows plus tombstones for isolated nodes
    (``operators.components.incremental_components_update_delta`` /
    ``incremental_components_delete_delta``), and the delta edges
    themselves as rows (additions) or tombstones (deletions) of the
    composite-keyed edges part. Nothing corpus-sized is written per
    epoch; ``log_store.compact_pair_if_needed`` folds on the amortized
    cadence (count / relative / ABSOLUTE byte triggers). Read the
    current labeling with ``log_store.read_pair_store(spark, root,
    name, "labels", "node")``. Trade-off vs the snapshot maintainer:
    the logged layout keeps no per-component edge annotation, so
    deletion localization uses the broadcast semi-join path
    (canonical_col=None) instead of annotated scan-prune — the epoch
    still only SHUFFLES affected-component data, and the prune layout
    can be reinstated as a compaction-time rewrite property if a
    deployment's delete rate warrants it. Returns generations folded
    by auto-compaction (0 = append only). Hash-gated end-to-end
    (generational and compacted reads vs a full-recompute oracle) by
    ``cc_log_maintenance``."""
    from .log_store import (
        BROADCAST_TOUCHED_MAX_BYTES,
        _delta_dirs,
        _store_path,
        append_pair_delta,
        compact_pair_if_needed,
        read_pair_store,
    )
    from .operators.components import (
        incremental_components_delete_delta,
        incremental_components_update_delta,
    )

    if max_delta_bytes is None:
        max_delta_bytes = BROADCAST_TOUCHED_MAX_BYTES
    keys = {"labels": "node", "edges": [src, dst]}
    # maintenance evaluates each part's merged view 2-3 times per
    # epoch (probe, localization, change-set write) — pin the
    # delta-bounded winner set once instead of re-running its shuffle
    # stages per evaluation (log_store._merge pin_touched)
    labels = read_pair_store(
        spark, root, name, "labels", "node", pin_touched=True
    )
    if deleted:
        edges = read_pair_store(
            spark, root, name, "edges", [src, dst], pin_touched=True
        )
        # annotated-prune path (r14 VERDICT #4): trust the compaction
        # layout's _comp stamp ONLY on a fully-folded store — the
        # moment a generation lands, merges/splits can stale it
        # (components_log_layouts docstring), so fall back to the
        # broadcast-semi localization until the next fold re-stamps
        folded = not _delta_dirs(_store_path(root, name), committed=True)
        if folded and "_comp" in edges.columns:
            changed, tombs = incremental_components_delete_delta(
                labels, edges, delta_edges, src, dst, canonical_col="_comp"
            )
        else:
            changed, tombs = incremental_components_delete_delta(
                labels, edges.drop("_comp"), delta_edges, src, dst
            )
        parts = {
            "labels": (changed, tombs, "node"),
            # deletions: no edge rows, just composite-key tombstones
            "edges": (
                edges.select(src, dst).limit(0),
                _canon_edge_frame(delta_edges, src, dst),
                [src, dst],
            ),
        }
    else:
        changes = incremental_components_update_delta(
            labels, delta_edges, src, dst
        )
        parts = {
            "labels": (changes, None, "node"),
            "edges": (_canon_edge_frame(delta_edges, src, dst), None, [src, dst]),
        }
    append_pair_delta(root, name, parts)
    if auto_compact:
        return compact_pair_if_needed(
            spark,
            root,
            name,
            keys,
            max_generations=max_generations,
            max_delta_fraction=max_delta_fraction,
            max_delta_bytes=max_delta_bytes,
            layouts=(
                components_log_layouts(spark, root, name, src, dst)
                if annotate_on_compact
                else None
            ),
        )
    return 0


def maintain_postings_table(
    spark: SparkSession,
    root: str,
    postings_name: str,
    delta_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    deleted_ids: DataFrame | None = None,
) -> int:
    """End-to-end incremental inverted-index maintenance against STORED
    state (r11 VERDICT #3 — the postings twin of
    :func:`maintain_components_table`): read the postings table, absorb
    re-ingested documents and tombstones via
    ``operators.inverted_index.update_postings`` (broadcast-anti,
    map-side), and atomically swap the updated index in through the S9
    staging machinery — concurrent term lookups never see a
    half-written index, and a crash between the two swap renames heals
    via :func:`recover_table`. Returns the updated posting-row count.
    The index the serving path scans is now the same table the
    maintenance path updates."""
    from .operators.inverted_index import update_postings

    postings = read_table(spark, root, postings_name)
    updated = update_postings(
        postings, delta_docs, id_col, text_col, deleted_ids=deleted_ids
    )
    # the update plan reads the CURRENT posting files; materialize
    # before the swap renames them out from under the scan
    updated = updated.localCheckpoint(eager=True)
    _rewrite(updated, root, postings_name)
    return updated.count()


def maintain_minhash_index_table(
    spark: SparkSession,
    root: str,
    index_name: str,
    delta_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    deleted_ids: DataFrame | None = None,
    shingle_k: int = 3,
    num_hashes: int = 16,
    verify_tokens: bool = False,
) -> int:
    """Stored-table wrapper for the MinHash dedup index (r11 VERDICT
    #2/#3): read the persisted (doc, shingles, sig) sketch table, absorb
    re-ingests/tombstones via ``operators.dedup.update_minhash_index``,
    and atomically swap — same staging/recovery contract as
    :func:`maintain_postings_table`. Returns the updated sketch-row
    count."""
    from .operators.dedup import update_minhash_index

    index = read_table(spark, root, index_name)
    updated = update_minhash_index(
        index,
        delta_docs,
        id_col,
        text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        verify_tokens=verify_tokens,
        deleted_ids=deleted_ids,
    )
    updated = updated.localCheckpoint(eager=True)
    _rewrite(updated, root, index_name)
    return updated.count()


def _neighbors_topk(
    corpus: DataFrame, id_col: str, band_col: str, vec_col: str, band: float, k: int
) -> DataFrame:
    """The canonical (query_id, nbr_id, cosine_sim, rank) build the
    neighbors store keeps — the same rendering every k-NN gate uses."""
    from .operators.band_join import banded_cosine_pairs
    from .operators.latest import topk_per_key

    pairs = banded_cosine_pairs(corpus, id_col, band_col, vec_col, band)
    return topk_per_key(
        pairs, ["s_id"], [F.col("cos").desc(), F.col("t_id").asc()], k=k
    ).select(
        F.col("s_id").alias("query_id"),
        F.col("t_id").alias("nbr_id"),
        F.round("cos", 6).alias("cosine_sim"),
        "rank",
    )


def init_neighbors_store(
    spark: SparkSession,
    root: str,
    name: str,
    corpus: DataFrame,
    id_col: str,
    band_col: str,
    vec_col: str,
    *,
    band: float,
    k: int,
) -> None:
    """Create the paired neighbors store ``root/name/{vectors,
    neighbors}``: the vector corpus AND the k-NN table built from it
    live under ONE directory and every maintenance call swaps the pair
    atomically — the store can never publish a corpus inconsistent with
    its index (r12 VERDICT #4: the old wrapper took the corpus as a
    caller argument, and a caller passing one inconsistent with the
    stored table got silently wrong pass-through rows)."""
    store = _path(root, name)
    shutil.rmtree(store, ignore_errors=True)
    corpus.write.mode("overwrite").parquet(os.path.join(store, "vectors"))
    _neighbors_topk(corpus, id_col, band_col, vec_col, band, k).write.mode(
        "overwrite"
    ).parquet(os.path.join(store, "neighbors"))


def read_neighbors_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """The store's current neighbors table (serving path). Heals a
    crashed pair swap first so 'store missing' can never read as empty
    mid-swap."""
    recover_table(root, name)
    return spark.read.parquet(os.path.join(_path(root, name), "neighbors"))


def read_neighbors_corpus(spark: SparkSession, root: str, name: str) -> DataFrame:
    recover_table(root, name)
    return spark.read.parquet(os.path.join(_path(root, name), "vectors"))


def maintain_neighbors_table(
    spark: SparkSession,
    root: str,
    name: str,
    delta: DataFrame,
    id_col: str,
    band_col: str,
    vec_col: str,
    *,
    band: float,
    k: int,
    deleted_ids: DataFrame | None = None,
) -> int:
    """Stored-store wrapper for the incremental k-NN refresh (r11
    VERDICT #5, contract closed per r12 VERDICT #4): read the corpus
    AND the precomputed neighbors table from the store
    (:func:`init_neighbors_store`'s paired layout — no caller-supplied
    base, so the refresh provably runs against the corpus the stored
    table was built from), absorb the arriving vector batch via
    ``operators.band_join.incremental_neighbors`` (delta-scoped probe,
    unaffected rows passed through), and swap corpus' + neighbors' in
    as ONE atomic unit (:func:`_staged_swap` on the parent dir — a
    crash between two separate table swaps could otherwise publish a
    new corpus with a stale index). ``delta`` carries vector upserts
    (new or re-embedded ids); ``deleted_ids`` tombstones, deletion
    winning on conflict. Returns the refreshed neighbor row count."""
    from .operators.band_join import incremental_neighbors

    recover_table(root, name)  # crashed pair swap must heal before reads
    store = _path(root, name)
    base = spark.read.parquet(os.path.join(store, "vectors"))
    stored = spark.read.parquet(os.path.join(store, "neighbors"))
    removed = delta.select(id_col).distinct()
    if deleted_ids is not None:
        tomb = deleted_ids.select(
            F.col(deleted_ids.columns[0]).alias(id_col)
        ).distinct()
        removed = removed.unionByName(tomb).distinct()
        delta = delta.join(F.broadcast(tomb), id_col, "left_anti")
    new_corpus = base.join(F.broadcast(removed), id_col, "left_anti").unionByName(
        delta.select(*base.columns)
    )
    updated = incremental_neighbors(
        stored, base, delta, id_col, band_col, vec_col, band, k,
        deleted_ids=deleted_ids,
    )
    # both plans read the CURRENT store files; materialize before the
    # swap renames them out from under the scans
    new_corpus = new_corpus.localCheckpoint(eager=True)
    updated = updated.localCheckpoint(eager=True)

    def build(staging: str) -> None:
        new_corpus.write.mode("overwrite").parquet(os.path.join(staging, "vectors"))
        updated.write.mode("overwrite").parquet(os.path.join(staging, "neighbors"))

    _staged_swap(root, name, build)
    return updated.count()
