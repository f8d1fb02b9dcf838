"""Ingest orchestration — the reference's fetch→process pipeline (§3.1).

Mirrors `/root/reference/src/pipeline/fetch_new_games.py:30-69` (two
sequential stages) with the loop semantics of
`ResponseFetcher.run` (`src/modules/response_fetcher.py:446-473`) and
`ResponseProcessor.run` (`src/modules/response_processor.py:485-525`):

fetch stage:   candidates (anti-joins + retry policy) → claim leases →
               rate-limited batched HTTP → land raw + status rows →
               release leases; loop until a batch comes back short.
process stage: pending responses (latest-per-game, success-only, not yet
               processed) → flatten → 20-table fan-out → per-table-class
               write strategy (dims MERGE S6, bridges/details
               delete+insert S7, time-series append S4) → record status;
               loop in batches.

Where the reference round-trips Python↔BigQuery per step, here each
stage runs one Spark query per batch: the candidate query over the raw
layer, collected in one action. The batch itself is bounded (at most
``PROCESS_BATCH`` games), so everything after that runs on the driver
and starts no Spark job: parsing and fan-out (``bgg_xml.fan_out``), the
lease and status updates (``tracking``), and every write (``io``'s
driver writer). The status write comes last, so a crash mid-batch
leaves the batch pending and the next run processes it again.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from . import io, schemas
from .sources import bgg_xml
from .sources.api_client import BGGApiClient, land_batch
from .streaming import tracking

DIM_TABLES = {name: [col] for name, col in schemas.DIM_ID_COLS.items()}
BRIDGE_TABLES = {name: ["game_id"] for name in schemas.BRIDGES}
DETAIL_TABLES = {
    "player_counts": ["game_id"],
    "alternate_names": ["game_id"],
    "language_dependence": ["game_id"],
    "suggested_ages": ["game_id"],
}


def _read_or_empty(spark: SparkSession, root: str, name: str):
    if io.table_exists(root, name):
        return io.read_table(spark, root, name)
    return spark.createDataFrame([], schemas.RAW_TABLES[name])


def _driver_table(root: str, name: str) -> pa.Table:
    """A tracking table read on the driver (empty when absent), after
    healing a crashed swap so that no history reads as missing."""
    io.recover_table(root, name)
    table = io.read_arrow(root, name)
    return table if table is not None else schemas.arrow_schema(schemas.RAW_TABLES[name]).empty_table()


def _fetch_id_batch(
    spark: SparkSession,
    root: str,
    client: BGGApiClient,
    ids: list[int],
    *,
    now: datetime | None = None,
) -> int:
    """Claim → rate-limited fetch → land raw+status → release, for an
    explicit id list. The shared inner step of every fetch-side command;
    it runs on the driver and starts no Spark job."""
    if not ids:
        return 0
    leases = tracking.claim(_driver_table(root, "fetch_in_progress"), ids, now=now)
    io.rewrite_table(leases, root, "fetch_in_progress")

    ts = now or datetime.now(timezone.utc).replace(tzinfo=None)
    payloads = client.fetch_all(ids)
    # ids with no item in the response still get a status row
    payloads = {gid: payloads.get(gid, "") for gid in ids}
    raw, status = land_batch(payloads, ts)
    io.append_table(raw.filter(pc.not_equal(raw["response_data"], "")), root, "raw_responses")
    io.append_table(status, root, "fetched_responses")

    remaining = tracking.release(_driver_table(root, "fetch_in_progress"), ids)
    io.rewrite_table(remaining, root, "fetch_in_progress")
    return len(ids)


def fetch_stage(
    spark: SparkSession,
    root: str,
    client: BGGApiClient,
    *,
    now: datetime | None = None,
) -> int:
    """Loop fetch batches until no work remains; returns games fetched."""
    total = 0
    for _ in range(100):
        thing_ids = _read_or_empty(spark, root, "thing_ids")
        fetched = _read_or_empty(spark, root, "fetched_responses")
        leases = _read_or_empty(spark, root, "fetch_in_progress")
        candidates = tracking.unfetched_ids(
            thing_ids, fetched, tracking.expire_leases(leases, now=now), now=now
        )
        # materialize the batch: downstream writes swap the very files the
        # lazy candidate plan scans, so later actions must not re-execute it
        ids = [r.game_id for r in candidates.select("game_id").collect()]
        if not ids:
            break
        total += _fetch_id_batch(spark, root, client, ids, now=now)
        if len(ids) < tracking.FETCH_BATCH:  # the queue is drained
            break
    return total


def process_stage(
    spark: SparkSession,
    root: str,
    *,
    load_timestamp: datetime | None = None,
) -> int:
    """Loop process batches; returns records processed."""
    total = 0
    for _ in range(100):
        raw = _read_or_empty(spark, root, "raw_responses")
        fetched = _read_or_empty(spark, root, "fetched_responses")
        processed = _read_or_empty(spark, root, "processed_responses")
        pending = tracking.unprocessed_responses(raw, fetched, processed)
        # the batch's one Spark action; the writes below swap files the
        # lazy plan scans, so nothing may re-execute it
        rows = pending.select("record_id", "game_id", "response_data").collect()
        if not rows:
            break
        ts = load_timestamp or datetime.now(timezone.utc).replace(tzinfo=None)
        parsed = [game for r in rows for game in bgg_xml.parse_payload(r.response_data)]
        tables = bgg_xml.fan_out(parsed, ts)
        ok_ids = set(tables["games"]["game_id"].to_pylist())

        # per-table-class write strategies (loader.py:199-265)
        io.append_table(tables["games"], root, "games")
        io.append_table(tables["rankings"], root, "rankings")
        for dim, keys in DIM_TABLES.items():
            io.merge_insert_missing_table(spark, tables[dim], root, dim, keys)
        for name, keys in (BRIDGE_TABLES | DETAIL_TABLES).items():
            io.delete_insert_table(spark, tables[name], root, name, keys)

        results = pa.Table.from_pylist(
            [
                {
                    "record_id": r.record_id,
                    "process_timestamp": ts,
                    "process_status": "success" if r.game_id in ok_ids else "parse_error",
                    "process_attempt": 0,  # renumbered by record_process_results
                    "error_message": None if r.game_id in ok_ids else "unparseable payload",
                }
                for r in rows
            ],
            schema=schemas.arrow_schema(schemas.PROCESSED_RESPONSES),
        )
        updated = tracking.record_process_results(_driver_table(root, "processed_responses"), results)
        io.rewrite_table(updated, root, "processed_responses")
        total += len(rows)
        # a short batch drained the queue, unless a parse_error record
        # is due for a retry
        if len(rows) < tracking.PROCESS_BATCH and all(r.game_id in ok_ids for r in rows):
            break
    return total


def fetch_new_games(
    spark: SparkSession,
    root: str,
    client: BGGApiClient,
    *,
    now: datetime | None = None,
) -> tuple[int, int]:
    """The two-stage entry point; returns (fetched, processed) counts."""
    fetched = fetch_stage(spark, root, client, now=now)
    processed = process_stage(spark, root, load_timestamp=now)
    return fetched, processed


def fetch_games(
    spark: SparkSession,
    root: str,
    client: BGGApiClient,
    game_ids: list[int],
    *,
    now: datetime | None = None,
) -> tuple[int, int]:
    """On-demand fetch+process of SPECIFIC games — the reference's
    `python -m src.pipeline.fetch_games` (src/pipeline/fetch_games.py:
    GAME_IDS env → refresh → process). Unlike ``fetch_new_games`` the ids
    are fetched even if already fetched (refresh semantics); ids are
    deduplicated preserving first occurrence like ``parse_game_ids``."""
    ids = list(dict.fromkeys(int(i) for i in game_ids))
    fetched = _fetch_id_batch(spark, root, client, ids, now=now)
    processed = process_stage(spark, root, load_timestamp=now)
    return fetched, processed


def refresh_old_games(
    spark: SparkSession,
    root: str,
    client: BGGApiClient,
    *,
    now: datetime | None = None,
) -> tuple[int, int]:
    """Staleness-band-driven refresh+process — the reference's
    `python -m src.pipeline.refresh_old_games`
    (src/pipeline/refresh_old_games.py + modules/response_refresher.py):
    pick games whose last successful fetch is staler than their
    publication-year band allows (streaming/refresher.py policy), refetch
    them, process the responses."""
    from .streaming.refresher import refresh_candidates

    if not io.table_exists(root, "games"):
        return 0, 0
    total_fetched = 0
    for _ in range(10):
        games = (
            io.read_table(spark, root, "games")
            .select("game_id", "year_published")
            .dropDuplicates(["game_id"])
        )
        fetched = _read_or_empty(spark, root, "fetched_responses")
        leases = tracking.expire_leases(
            _read_or_empty(spark, root, "fetch_in_progress"), now=now
        )
        cand = refresh_candidates(games, fetched, leases, now=now, batch=1000)
        ids = [r.game_id for r in cand.select("game_id").collect()]
        if not ids:
            break
        total_fetched += _fetch_id_batch(spark, root, client, ids, now=now)
    return total_fetched, process_stage(spark, root, load_timestamp=now)
