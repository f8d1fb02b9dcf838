"""Rate-limited batched API source (S1) with an injectable transport.

Mirrors `/root/reference/src/api_client/client.py`: 2 req/s token-bucket
rate limit (`:34-53`), ≤20 ids per request (`response_fetcher.py:363-365`),
3 retries with linear backoff and 429 handling (`:117-250`), and a
request-log row per call (`:110`). The HTTP transport is injected so the
engine stays hermetic — tests drive a fake; production wires requests/
urllib. Fetching is driver-side (the ceiling is the remote API at 2 req/s,
not compute — parallelizing fetches across executors would only DDoS the
rate limiter), landing results as Arrow tables for the raw layer.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

import pyarrow as pa

from .. import schemas

Transport = Callable[[str], tuple[int, str]]

BASE_URL = "https://boardgamegeek.com/xmlapi2/thing"
MAX_IDS_PER_REQUEST = 20
REQUESTS_PER_SECOND = 2.0
MAX_RETRIES = 3
BACKOFF_BASE_SECONDS = 5.0


class RateLimiter:
    """Token bucket: ``REQUESTS_PER_SECOND`` requests/second, burst of 1."""

    def __init__(self, clock=time.monotonic, sleep=time.sleep):
        self.min_interval = 1.0 / REQUESTS_PER_SECOND
        self._clock = clock
        self._sleep = sleep
        self._last = None

    def acquire(self) -> None:
        now = self._clock()
        if self._last is not None:
            wait = self.min_interval - (now - self._last)
            if wait > 0:
                self._sleep(wait)
                now = self._clock()
        self._last = now


@dataclass
class RequestLogEntry:
    request_id: str
    url: str
    method: str
    game_ids: str
    status_code: int | None
    response_time: float | None
    error: str | None
    request_timestamp: float


@dataclass
class BGGApiClient:
    transport: Transport
    rate_limiter: RateLimiter = field(default_factory=RateLimiter)
    sleep: Callable[[float], None] = time.sleep
    request_log: list[RequestLogEntry] = field(default_factory=list)

    def _url(self, game_ids: Sequence[int]) -> str:
        ids = ",".join(str(g) for g in game_ids)
        return f"{BASE_URL}?id={ids}&stats=1"

    def get_thing(self, game_ids: Sequence[int]) -> dict[int, str]:
        """Fetch one batch (≤20 ids) with retry/backoff; returns
        {game_id: payload_json} for ids present in the response."""
        if len(game_ids) > MAX_IDS_PER_REQUEST:
            raise ValueError(f"at most {MAX_IDS_PER_REQUEST} ids per request")
        url = self._url(game_ids)
        last_err: str | None = None
        for attempt in range(1, MAX_RETRIES + 1):
            self.rate_limiter.acquire()
            t0 = time.monotonic()
            try:
                status, body = self.transport(url)
                elapsed = time.monotonic() - t0
                self._log(url, game_ids, status, elapsed, None)
            except Exception as exc:  # transport-level failure
                self._log(url, game_ids, None, None, f"{exc} retries={attempt}")
                last_err = str(exc)
                status, body = None, None
            if status == 200 and body is not None:
                return self._split(body, game_ids)
            if status == 429 or status is None or status >= 500:
                # linear backoff, mirroring client.py retry policy
                self.sleep(BACKOFF_BASE_SECONDS * attempt)
                last_err = f"status={status}"
                continue
            break  # non-retryable 4xx
        raise RuntimeError(f"fetch failed after {MAX_RETRIES} attempts: {last_err}")

    def fetch_all(self, game_ids: Sequence[int]) -> dict[int, str]:
        """Chunk an arbitrary id list into ≤20-id batches (S1 chunking)."""
        out: dict[int, str] = {}
        ids = list(game_ids)
        for i in range(0, len(ids), MAX_IDS_PER_REQUEST):
            out.update(self.get_thing(ids[i : i + MAX_IDS_PER_REQUEST]))
        return out

    def _split(self, body: str, requested: Sequence[int]) -> dict[int, str]:
        """Split a multi-item response into per-game payload strings
        (`response_fetcher.py:282-318` store_response semantics)."""
        try:
            doc = json.loads(body)
        except ValueError:
            return {}
        items = doc.get("items", {}) if isinstance(doc, dict) else {}
        item_list = items.get("item")
        if item_list is None:
            return {}
        if not isinstance(item_list, list):
            item_list = [item_list]
        out = {}
        for item in item_list:
            try:
                gid = int(item.get("@id"))
            except (TypeError, ValueError, AttributeError):
                continue
            out[gid] = json.dumps({"items": {"item": item}})
        return out

    def _log(self, url, game_ids, status, elapsed, error) -> None:
        self.request_log.append(
            RequestLogEntry(
                request_id=str(uuid.uuid4()),
                url=url,
                method="GET",
                game_ids=",".join(str(g) for g in game_ids),
                status_code=status,
                response_time=elapsed,
                error=error,
                request_timestamp=time.time(),
            )
        )


def land_batch(payloads: dict[int, str], fetch_timestamp) -> tuple[pa.Table, pa.Table]:
    """payloads → (raw_responses, fetched_responses) Arrow tables with
    generated record_ids (F11 uuid defaults) and success/no_response
    statuses."""
    raw_rows, status_rows = [], []
    for gid, payload in payloads.items():
        rid = str(uuid.uuid4())
        raw_rows.append(
            {
                "game_id": gid,
                "response_data": payload,
                "fetch_timestamp": fetch_timestamp,
                "record_id": rid,
            }
        )
        status_rows.append(
            {
                "record_id": rid,
                "game_id": gid,
                "fetch_timestamp": fetch_timestamp,
                "fetch_status": "success" if payload else "no_response",
            }
        )
    return (
        pa.Table.from_pylist(raw_rows, schema=schemas.arrow_schema(schemas.RAW_RESPONSES)),
        pa.Table.from_pylist(status_rows, schema=schemas.arrow_schema(schemas.FETCHED_RESPONSES)),
    )


def land_responses(spark, payloads: dict[int, str], fetch_timestamp) -> tuple:
    """DataFrame adapter over :func:`land_batch`."""
    raw, fetched = land_batch(payloads, fetch_timestamp)
    return spark.createDataFrame(raw), spark.createDataFrame(fetched)
