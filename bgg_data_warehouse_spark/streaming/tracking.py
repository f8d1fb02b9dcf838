"""Work-queue tracking semantics (I2–I4) over the raw-layer tables.

The reference's at-least-once fetch / exactly-once-ish process machinery
(`/root/reference/src/modules/response_fetcher.py:49-180`,
`response_processor.py:156-209`) re-expressed as pure transforms: each
function takes the tracking tables and returns the work set / updated
table, so the semantics are unit-testable without any HTTP or storage.
The candidate queries (`unfetched_ids`, `unprocessed_responses`) are
DataFrame transforms, because they scan the whole raw layer. The lease
and status updates of one batch (`claim`, `release`,
`record_process_results`) are Arrow transforms run on the driver, which
the pipeline's driver writer lands. The anti-join shapes (J4/J5), retry
policy (I4), lease expiry (I3) and priority ordering (O3) match the
cited SQL line-for-line in behavior.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FETCH_BATCH = 1000
PROCESS_BATCH = 100
MAX_ATTEMPTS = 3
RETRY_COOLDOWN_HOURS = 1
LEASE_TIMEOUT_MINUTES = 30


def unfetched_ids(
    thing_ids: DataFrame,
    fetched_responses: DataFrame,
    fetch_in_progress: DataFrame,
    *,
    now=None,
) -> DataFrame:
    """Candidate ids to fetch (`response_fetcher.py:49-180`):

    thing_ids − successful fetches − live leases − capped/cooling retries,
    LIMIT FETCH_BATCH. Returns (game_id, type).
    """
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    success = fetched_responses.where(F.col("fetch_status") == "success").select("game_id")
    live_leases = fetch_in_progress.where(
        F.col("fetch_start_timestamp")
        >= now_expr - F.expr(f"INTERVAL {LEASE_TIMEOUT_MINUTES} MINUTES")
    ).select("game_id")

    attempts = fetched_responses.groupBy("game_id").agg(
        F.count("*").alias("attempt_count"),
        F.max("fetch_timestamp").alias("last_attempt"),
    )
    blocked = attempts.where(
        (F.col("attempt_count") >= MAX_ATTEMPTS)
        | (
            F.col("last_attempt")
            >= now_expr - F.expr(f"INTERVAL {RETRY_COOLDOWN_HOURS} HOURS")
        )
    ).select("game_id")

    return (
        thing_ids.select("game_id", "type")
        .join(success, "game_id", "left_anti")
        .join(live_leases, "game_id", "left_anti")
        .join(blocked, "game_id", "left_anti")
        .orderBy("game_id")
        .limit(FETCH_BATCH)
    )


def expire_leases(fetch_in_progress: DataFrame, *, now=None) -> DataFrame:
    """I3 lease expiry: drop leases older than the timeout
    (`response_fetcher.py:60-64`)."""
    now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    return fetch_in_progress.where(
        F.col("fetch_start_timestamp")
        >= now_expr - F.expr(f"INTERVAL {LEASE_TIMEOUT_MINUTES} MINUTES")
    )


def claim(fetch_in_progress: pa.Table, game_ids: list[int], *, now=None) -> pa.Table:
    """Insert leases for the candidate batch (`response_fetcher.py:155-168`),
    dropping the expired ones (I3) on the way."""
    now = now if now is not None else datetime.now(timezone.utc).replace(tzinfo=None)
    ts = fetch_in_progress.schema.field("fetch_start_timestamp").type
    cutoff = pa.scalar(now - timedelta(minutes=LEASE_TIMEOUT_MINUTES), type=ts)
    live = fetch_in_progress.filter(pc.greater_equal(fetch_in_progress["fetch_start_timestamp"], cutoff))
    leases = pa.table(
        [pa.array(game_ids, pa.int64()), pa.array([now] * len(game_ids), ts)],
        schema=fetch_in_progress.schema,
    )
    return pa.concat_tables([live, leases])


def release(fetch_in_progress: pa.Table, done_ids: list[int]) -> pa.Table:
    """Delete-on-complete (`response_fetcher.py:321-331`)."""
    done = pc.is_in(fetch_in_progress["game_id"], value_set=pa.array(done_ids, pa.int64()))
    return fetch_in_progress.filter(pc.invert(done))


def unprocessed_responses(
    raw_responses: DataFrame,
    fetched_responses: DataFrame,
    processed_responses: DataFrame,
) -> DataFrame:
    """Pending process work (`response_processor.py:182-209`): latest
    response per game (W1), minus already-processed record_ids (J4),
    minus records that exhausted their process attempts (I4 — the
    reference's ResponseProcessor caps at max_retries=3, so a payload
    that fails to parse every time eventually leaves the queue instead
    of being re-selected forever), oldest-first priority (O3), LIMIT
    PROCESS_BATCH."""
    latest = (
        raw_responses.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("game_id").orderBy(
                    F.col("fetch_timestamp").desc(), F.col("record_id").desc()
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    ok = fetched_responses.where(F.col("fetch_status") == "success").select("record_id")
    done = processed_responses.where(
        F.col("process_status").isin("success", "no_response")
    ).select("record_id")
    capped = (
        processed_responses.groupBy("record_id")
        .agg(F.count("*").alias("_attempts"))
        .where(F.col("_attempts") >= MAX_ATTEMPTS)
        .select("record_id")
    )
    return (
        latest.join(ok, "record_id", "left_semi")
        .join(done, "record_id", "left_anti")
        .join(capped, "record_id", "left_anti")
        .orderBy(F.col("fetch_timestamp").asc(), F.col("record_id"))
        .limit(PROCESS_BATCH)
    )


def record_process_results(processed_responses: pa.Table, results: pa.Table) -> pa.Table:
    """Append status rows with attempt numbering
    (`response_processor.py:429-476`): attempt = prior attempts + 1."""
    prior = Counter(processed_responses["record_id"].to_pylist())
    attempts = [prior[rid] + 1 for rid in results["record_id"].to_pylist()]
    col = results.schema.get_field_index("process_attempt")
    stamped = results.set_column(col, "process_attempt", pa.array(attempts, pa.int64()))
    return pa.concat_tables([processed_responses, stamped.cast(processed_responses.schema)])
