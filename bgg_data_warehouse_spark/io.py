"""Layout-aware parquet IO + the reference's write strategies.

Layout policy mirrors `/root/reference/terraform/bigquery.tf` (SURVEY §1.4):

- time-series facts (games, rankings, raw_responses): DAY partition on the
  UTC date of the load/fetch timestamp + sort by game_id within
  partitions (partition pruning ≈ BigQuery DAY partitioning; parquet
  min/max row-group stats on the sorted key ≈ clustering);
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

One writer per table class. Raw and core tables (``INGEST_TABLES``) are
written on the driver with pyarrow: an ingest batch is bounded (at most
100 games), so an append is one file per partition and an S6/S7 step is
a read-modify-write of one small table, and neither starts a Spark job.
Model tables are written by Spark. Both use the same layouts and the
same staged swap, so :func:`recover_table` heals either. A driver read
casts every file to the declared schema: a table directory may hold
Spark's INT96 timestamps next to the driver's UTC microseconds.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas


@dataclass
class Layout:
    partition_cols: list[str] = field(default_factory=list)
    sort_cols: list[str] = field(default_factory=list)
    # derived partition col -> the timestamp col whose UTC date it is
    day_of: dict[str, str] = field(default_factory=dict)


LAYOUTS: dict[str, Layout] = {
    "games": Layout(["load_date"], ["game_id"], {"load_date": "load_timestamp"}),
    "rankings": Layout(["load_date"], ["game_id"], {"load_date": "load_timestamp"}),
    "raw_responses": Layout(["fetch_date"], ["game_id"], {"fetch_date": "fetch_timestamp"}),
    "request_log": Layout(["request_date"], [], {"request_date": "request_timestamp"}),
    "game_profile": Layout(["game_id_bucket"], ["game_id"]),
    # mirrors the reference's clusterBy ["profile", "game_id"]
    # (`definitions/game_neighbors.sqlx:6-8`): a Spark read of one
    # profile prunes to one directory, then in-file game_id sort
    "game_neighbors": Layout(["profile"], ["game_id"]),
}


def _path(root: str, name: str) -> str:
    return os.path.join(root, name)


# tables the driver writer owns; reads of them pass the declared schema
INGEST_TABLES = {**schemas.CORE_TABLES, **schemas.RAW_TABLES}


def _apply_layout(df: DataFrame, layout: Layout) -> DataFrame:
    for col, ts_col in layout.day_of.items():
        if col not in df.columns:
            df = df.withColumn(col, F.to_date(ts_col))  # session time zone: UTC
    if layout.sort_cols:
        df = df.sortWithinPartitions(*layout.sort_cols)
    return df


def write_table(df: DataFrame, root: str, name: str, mode: str = "overwrite") -> None:
    if name in INGEST_TABLES:
        _land(_as_arrow(df, name), root, name, append=mode == "append")
        return
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
    """A table as a DataFrame. Ingest tables are read with their declared
    schema, so the read starts no schema-inference job; the partition
    column (``load_date``, ``fetch_date``) is still appended last."""
    reader = spark.read
    if name in INGEST_TABLES:
        reader = reader.schema(INGEST_TABLES[name])
    return reader.parquet(_path(root, name))


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
    :func:`recover_table` heals. Spark's :func:`_rewrite` and the
    driver writer both land through it."""
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


def rewrite_table(df: DataFrame | pa.Table, root: str, name: str) -> None:
    """Overwrite a table whose new contents READ from the old contents.

    ``write_table(mode="overwrite")`` would delete the files the lazy plan
    is still scanning; this stages + swaps instead. An ingest table's new
    contents are materialized on the driver first.
    """
    if name in INGEST_TABLES:
        _land(_as_arrow(df, name), root, name, append=False)
    else:
        _rewrite(df, root, name)


# ---------------------------------------------------------------------------
# Driver writer: raw and core tables as pyarrow files.
# ---------------------------------------------------------------------------


def _data_files(path: str) -> list[str]:
    """Parquet files of a table directory, skipping the hidden and
    underscore-prefixed entries Spark and the driver writer leave."""
    out = []
    for base, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(base, f)
            for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return out


def _held_schema(name: str, schema: pa.Schema) -> pa.Schema:
    """The schema a table's rows are held in on the driver: the declared
    one for an ingest table, else ``schema`` with nullable fields and
    timestamps as UTC microseconds (Spark's INT96 files read as naive
    nanoseconds)."""
    if name in INGEST_TABLES:
        return schemas.arrow_schema(INGEST_TABLES[name])
    return pa.schema(
        pa.field(f.name, pa.timestamp("us", tz="UTC") if pa.types.is_timestamp(f.type) else f.type)
        for f in schema
    )


def _conform(table: pa.Table, schema: pa.Schema) -> pa.Table:
    """Select and cast ``table``'s columns to ``schema``, by name; an
    absent column reads as nulls."""
    cols = [
        table[f.name].cast(f.type, safe=False) if f.name in table.column_names
        else pa.nulls(table.num_rows, f.type)
        for f in schema
    ]
    return pa.Table.from_arrays(cols, schema=schema)


def _as_arrow(data: DataFrame | pa.Table, name: str, like: pa.Table | None = None) -> pa.Table:
    """``data`` as an Arrow table in the schema its target holds: the
    declared one for an ingest table, else ``like``'s (the stored rows),
    else its own."""
    if isinstance(data, DataFrame):
        data = data.toArrow()
    return _conform(data, _held_schema(name, (like if like is not None else data).schema))


def read_arrow(root: str, name: str) -> pa.Table | None:
    """A table read on the driver, or None when it has no data file.
    Every file is cast to one schema (the declared one for an ingest
    table, else the first file's), so Spark-written and driver-written
    files of one table concatenate. Partition columns are not read: the
    writer derives them again."""
    files = _data_files(_path(root, name))
    if not files:
        return None
    parts = [pq.ParquetFile(f).read() for f in files]
    schema = _held_schema(name, parts[0].schema)
    return pa.concat_tables([_conform(p, schema) for p in parts])


def _write_files(table: pa.Table, directory: str, name: str) -> None:
    """Write ``table`` under ``directory`` in the table's layout: rows
    sorted by its sort columns, one file per partition value. Each file
    is written under a hidden name and renamed into place, so no reader
    sees a partial file.

    A file is named by the sha256 of its bytes (pyarrow writes equal
    tables byte for byte), so an append replayed after a crash replaces
    its own file instead of landing its rows twice. A retry at a new
    load time is different rows and still appends a second load; a batch
    that lands in all of its tables or none waits for a multi-part
    generation (ROADMAP Direction 1)."""
    layout = LAYOUTS.get(name, Layout())
    os.makedirs(directory, exist_ok=True)
    if layout.sort_cols and table.num_rows:
        table = table.sort_by([(c, "ascending") for c in layout.sort_cols])
    groups = [("", table)]
    if layout.partition_cols:
        (col,) = layout.partition_cols
        days = pc.cast(table[layout.day_of[col]], pa.date32())  # UTC date
        groups = [
            (f"{col}={day}", table.filter(pc.equal(days, pa.scalar(day, pa.date32()))))
            for day in pc.unique(days).to_pylist()
            if day is not None
        ]
        if days.null_count:
            groups.append((f"{col}=__HIVE_DEFAULT_PARTITION__", table.filter(pc.is_null(days))))
    for sub, part in groups:
        out = os.path.join(directory, sub)
        os.makedirs(out, exist_ok=True)
        buf = pa.BufferOutputStream()
        pq.write_table(part, buf)
        data = buf.getvalue().to_pybytes()
        fname = f"part-{hashlib.sha256(data).hexdigest()}.parquet"
        with open(os.path.join(out, "." + fname), "wb") as fh:
            fh.write(data)
        os.rename(os.path.join(out, "." + fname), os.path.join(out, fname))


def _land(table: pa.Table, root: str, name: str, *, append: bool) -> None:
    """Land an Arrow table: an append (S4) adds files in place; otherwise
    the table is rebuilt in a staging dir and swapped in."""
    if not append:
        _staged_swap(root, name, lambda staging: _write_files(table, staging, name))
        return
    recover_table(root, name)  # a crashed swap must not read as "first write"
    if table.num_rows or not table_exists(root, name):
        _write_files(table, _path(root, name), name)


def _row_numbers(table: pa.Table, keys: list[str]) -> pa.Table:
    return table.select(keys).append_column("_row", pa.array(np.arange(table.num_rows)))


def _first_per_key(table: pa.Table, keys: list[str]) -> pa.Table:
    """``dropDuplicates(keys)``, keeping each key's first row."""
    firsts = _row_numbers(table, keys).group_by(keys).aggregate([("_row", "min")])
    return table.take(np.sort(firsts["_row_min"].to_numpy()))


def _without_keys(table: pa.Table, keys: list[str], other: pa.Table) -> pa.Table:
    """Rows of ``table`` whose key is not in ``other`` (a left anti join:
    a null key matches nothing), in their stored order."""
    if not other.num_rows:
        return table
    kept = _row_numbers(table, keys).join(other.select(keys), keys, join_type="left anti")
    return table.take(np.sort(kept["_row"].to_numpy()))


def merge_insert_missing_table(
    spark: SparkSession, incoming: DataFrame | pa.Table, root: str, name: str, keys: list[str]
) -> None:
    """S6 — dimension MERGE: insert keys never seen, never update. A
    driver read-modify-write; a batch with no new key writes nothing."""
    recover_table(root, name)  # crashed-swap table must not read as "first write"
    existing = read_arrow(root, name)
    fresh = _first_per_key(_as_arrow(incoming, name, existing), keys)
    if existing is None:
        _land(fresh, root, name, append=False)
        return
    fresh = _without_keys(fresh, keys, existing)
    if fresh.num_rows:
        _land(pa.concat_tables([existing, fresh]), root, name, append=False)


def delete_insert_table(
    spark: SparkSession, replacement: DataFrame | pa.Table, root: str, name: str, keys: list[str]
) -> None:
    """S7 — bridge/detail refresh: replace all rows for the incoming keys.
    A driver read-modify-write; an empty replacement writes nothing."""
    recover_table(root, name)  # crashed-swap table must not read as "first write"
    existing = read_arrow(root, name)
    replacement = _as_arrow(replacement, name, existing)
    if existing is None:
        _land(replacement, root, name, append=False)
        return
    if replacement.num_rows:
        kept = _without_keys(existing, keys, replacement)
        _land(pa.concat_tables([kept, replacement]), root, name, append=False)


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
    try:
        pushdown_max = int(
            stored.sparkSession.conf.get(
                "spark.sql.parquet.pushdown.inFilterThreshold"
            )
        )
    except Exception:
        pushdown_max = 10  # Spark's default
    cap = min(PROBE_COLLECT_MAX, pushdown_max)
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
# curves measured at a FIXED local file count): 96 MiB per clustered file.
LAYOUT_TARGET_BYTES = 96 * 1024 * 1024


def layout_file_count(spark: SparkSession, store_bytes: int | None) -> int:
    """Partition count for a compaction-time clustered layout: the
    cores-proportional floor keeps pruning granularity on small local
    stores (AQE would otherwise fold the tiny range shuffle to ONE
    file), and above ``LAYOUT_TARGET_BYTES`` per file the count grows
    with the store so rows-per-file — and with it the literal probe's
    read bound — stays constant as the corpus grows."""
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
            layout=key_clustered_layout(
                spark, keys, store=_log_store_path(root, name)
            ),
        )


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
    rewrite_table(df.where(F.col(ts_col) >= cutoff), root, name)
    return n


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
) -> int:
    """Log-structured CC maintenance (r13 VERDICT #5) — the delta-sized
    WRITE answer to a snapshot-sized staged rewrite of the label table
    (the r13 scaling curves show that rewrite shuffling 86-100x across
    a 100x base step): one epoch of edge
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
    name, "labels", "node")``. Generations keep no per-component edge
    annotation, so a delete epoch uses the annotated scan-prune only
    while the store is fully folded with :func:`components_log_layouts`
    and the broadcast semi-join path otherwise — either way it only
    SHUFFLES affected-component data. Returns generations folded
    by auto-compaction (0 = append only). Hash-gated end-to-end
    (generational and compacted reads vs a full-recompute oracle) by
    ``cc_log_maintenance``."""
    from .log_store import (
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
        return compact_pair_if_needed(spark, root, name, keys)
    return 0
