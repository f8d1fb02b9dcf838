"""Round-12 scope-closers: the S3 sitemap id source (engine-side parse /
type resolution; browser fetch stays out of scope) and the stdlib HTTP
shell over the service routing contract."""

from __future__ import annotations

import json
import urllib.request

import pytest

from bgg_data_warehouse_spark.sources.sitemap import (
    ids_from_sitemap,
    sitemap_urls_from_index,
    thing_ids_table,
)

BASE = "https://boardgamegeek.com"

INDEX = f"""<?xml version="1.0"?>
<sitemapindex>
  <sitemap><loc>{BASE}/sitemap_geekitems_boardgameexpansion_1</loc></sitemap>
  <sitemap><loc>{BASE}/sitemap_geekitems_boardgame_2</loc></sitemap>
  <sitemap><loc>{BASE}/sitemap_geekitems_boardgame_1</loc></sitemap>
  <sitemap><loc>{BASE}/sitemap_geekitems_boardgameaccessory_1</loc></sitemap>
</sitemapindex>"""


def test_index_urls_sorted_by_type_then_page():
    urls = sitemap_urls_from_index(INDEX)
    assert urls == [
        f"{BASE}/sitemap_geekitems_boardgame_1",
        f"{BASE}/sitemap_geekitems_boardgame_2",
        f"{BASE}/sitemap_geekitems_boardgameexpansion_1",
        f"{BASE}/sitemap_geekitems_boardgameaccessory_1",
    ]


def test_index_with_no_sitemaps_raises():
    """A 200 with zero sitemap URLs is a block page, not an empty
    universe (reference id_fetcher_browser.py:120-125)."""
    with pytest.raises(ValueError, match="block page"):
        sitemap_urls_from_index("<html>Just a moment...</html>")


def test_ids_from_sitemap_extracts_id_and_type():
    page = f"""<urlset>
      <url><loc>{BASE}/boardgame/13</loc></url>
      <url><loc>{BASE}/boardgameexpansion/926</loc></url>
      <url><loc>{BASE}/boardgameaccessory/22510</loc></url>
    </urlset>"""
    assert ids_from_sitemap(page) == [
        {"game_id": 13, "type": "boardgame"},
        {"game_id": 926, "type": "boardgameexpansion"},
        {"game_id": 22510, "type": "boardgameaccessory"},
    ]


def test_thing_ids_table_last_write_wins_type_resolution(spark):
    """A game listed both as base game and expansion resolves to the
    MORE SPECIFIC type, independent of row order — the relational form
    of the reference's ordered last-write-wins dict
    (id_fetcher_browser.py:192-235)."""
    pages = spark.createDataFrame(
        [
            (
                f"{BASE}/sitemap_geekitems_boardgame_1",
                f"<urlset><url><loc>{BASE}/boardgame/13</loc></url>"
                f"<url><loc>{BASE}/boardgame/926</loc></url></urlset>",
            ),
            (
                f"{BASE}/sitemap_geekitems_boardgameexpansion_1",
                f"<urlset><url><loc>{BASE}/boardgameexpansion/926</loc></url>"
                f"<url><loc>{BASE}/boardgameexpansion/926</loc></url></urlset>",
            ),
            (
                f"{BASE}/sitemap_geekitems_boardgameaccessory_1",
                f"<urlset><url><loc>{BASE}/boardgameaccessory/500</loc></url></urlset>",
            ),
        ],
        "url string, content string",
    )
    got = {
        r.game_id: r.type for r in thing_ids_table(pages).collect()
    }
    assert got == {
        13: "boardgame",
        926: "boardgameexpansion",  # expansion overwrites base listing
        500: "boardgameaccessory",
    }


def test_thing_ids_table_plan_is_udf_free(spark):
    """The harvest stays in built-in expressions — no Python boundary."""
    pages = spark.createDataFrame(
        [("u", f"{BASE}/boardgame/1")], "url string, content string"
    )
    plan = thing_ids_table(pages)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, plan[:2000]


class FakeReader:
    def __init__(self, **returns):
        self.returns = returns

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        val = self.returns.get(name, None)

        def method(*args, **kwargs):
            if isinstance(val, Exception):
                raise val
            return val

        return method


@pytest.fixture()
def http_srv():
    from bgg_data_warehouse_spark.service_http import serve

    reader = FakeReader(
        get_game={"game_id": 13, "name": "Catan"},
        get_similar=[{"game_id": 21, "score": 0.9}],
        get_predictions=None,
    )
    srv = serve(reader, port=0)
    yield srv
    srv.shutdown()


def _get(srv, path):
    host, port = srv.server_address
    try:
        with urllib.request.urlopen(f"http://{host}:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_http_health_and_game(http_srv):
    assert _get(http_srv, "/health") == (200, {"status": "ok"})
    status, body = _get(http_srv, "/games/13")
    assert status == 200 and body["name"] == "Catan"


def test_http_404_null_and_400_mapping(http_srv):
    assert _get(http_srv, "/unknown")[0] == 404
    # optional block absent -> 200 with JSON null body
    assert _get(http_srv, "/games/7/predictions") == (200, None)
    # malformed tuning param -> 400 through the query-string layer
    status, body = _get(http_srv, "/games/13/similar?n=abc")
    assert status == 400 and "malformed" in body["detail"]


def test_http_tuning_param_passthrough_and_405(http_srv):
    status, body = _get(http_srv, "/games/13/similar?n=5")
    assert status == 200 and body == [{"game_id": 21, "score": 0.9}]
    # non-GET routes through handle()'s 405, not the socket layer
    host, port = http_srv.server_address
    req = urllib.request.Request(
        f"http://{host}:{port}/games/13", method="POST", data=b"{}"
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 405")
    except urllib.error.HTTPError as e:
        assert e.code == 405


def test_http_repeated_query_key_keeps_last(http_srv):
    """Starlette's QueryParams dict-comprehension keeps the LAST
    occurrence of a repeated key; the shell matches (ADVICE r12)."""
    status, body = _get(http_srv, "/games/13/similar?n=abc&n=5")
    assert (status, body) == (200, [{"game_id": 21, "score": 0.9}])


def test_http_reader_exception_maps_to_500_json():
    """An exception escaping the reader returns a 500 JSON error body,
    not a dropped connection (ADVICE r12)."""
    from bgg_data_warehouse_spark.service_http import serve

    srv = serve(FakeReader(get_game=RuntimeError("boom")), port=0)
    try:
        status, body = _get(srv, "/games/13")
        assert status == 500 and "internal error" in body["detail"]
    finally:
        srv.shutdown()


def test_http_timestamp_body_is_iso_8601():
    """A body holding datetime/date values (every profile, prediction,
    embedding and provenance document) is encoded as ISO-8601, not a
    dropped connection."""
    from datetime import date, datetime

    from bgg_data_warehouse_spark.service_http import serve

    pred = {"score_ts": datetime(2026, 1, 2, 3, 4, 5, 6), "score_date": date(2026, 1, 2)}
    srv = serve(FakeReader(get_predictions=pred), port=0)
    try:
        assert _get(srv, "/games/13/predictions") == (
            200, {"score_ts": "2026-01-02T03:04:05.000006", "score_date": "2026-01-02"}
        )
    finally:
        srv.shutdown()


def test_http_unencodable_body_maps_to_500_json():
    """A body the encoder cannot handle answers a 500 JSON error body."""
    from bgg_data_warehouse_spark.service_http import serve

    srv = serve(FakeReader(get_predictions={"x": object()}), port=0)
    try:
        status, body = _get(srv, "/games/13/predictions")
        assert status == 500 and "internal error" in body["detail"]
    finally:
        srv.shutdown()


def test_http_reader_swap_under_load_serves_whole_snapshots():
    """Publishing ``srv.reader`` while requests are in flight: every
    request gets a whole answer from one of the two readers, and the
    last one published is served once the swaps stop."""
    import sys
    import threading

    from bgg_data_warehouse_spark.service_http import serve

    old, new = FakeReader(get_game={"v": "old"}), FakeReader(get_game={"v": "new"})
    srv = serve(old, port=0)
    seen, errors = [], []

    def client():
        for _ in range(25):
            try:
                seen.append(_get(srv, "/games/1"))
            except Exception as exc:  # a dropped connection fails the test
                errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(16)]
        for t in threads:
            t.start()
        for i in range(500):
            srv.reader = (new, old)[i % 2]
        srv.reader = new
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert errors == [] and len(seen) == 16 * 25
        assert {status for status, _ in seen} == {200}
        assert {body["v"] for _, body in seen} <= {"old", "new"}
        assert _get(srv, "/games/1") == (200, {"v": "new"})
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()


def _raw_http(srv, payload: bytes) -> bytes:
    import socket

    host, port = srv.server_address
    with socket.create_connection((host, port), timeout=10) as s:
        s.sendall(payload)
        s.shutdown(socket.SHUT_WR)
        out = b""
        while True:
            chunk = s.recv(65536)
            if not chunk:
                return out
            out += chunk


def test_http_malformed_content_length_still_answers(http_srv):
    """A non-numeric Content-Length used to raise before the handler's
    try block, dropping the connection (ADVICE r13); now it is treated
    as no body and the route answers normally."""
    resp = _raw_http(
        http_srv,
        b"GET /health HTTP/1.1\r\nHost: x\r\n"
        b"Content-Length: abc\r\nConnection: close\r\n\r\n",
    )
    assert resp.startswith(b"HTTP/1.0 200") or b" 200 " in resp.split(b"\r\n", 1)[0]
    assert b'{"status": "ok"}' in resp


def test_http_chunked_body_is_drained(http_srv):
    """A chunked request body is drained by walking the chunk framing
    (ADVICE r13), so the response still comes back well-formed."""
    body = b"4\r\nwxyz\r\n0\r\n\r\n"
    resp = _raw_http(
        http_srv,
        b"POST /games/13 HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n" + body,
    )
    # the routing contract owns the 405 for POST; the point is the
    # response arrives as JSON, not a reset mid-drain
    assert b" 405 " in resp.split(b"\r\n", 1)[0]
    assert b"detail" in resp


def test_sitemap_feeds_tracking_cold_start(spark):
    """Cold-start integration: the sitemap harvest IS the `thing_ids`
    table the work-queue consumes (reference: fetch_all_ids seeds
    thing_ids, response_fetcher drains it) — with nothing fetched yet,
    every harvested id is pending work."""
    from datetime import datetime, timezone

    from bgg_data_warehouse_spark.streaming import tracking

    pages = spark.createDataFrame(
        [
            (
                f"{BASE}/sitemap_geekitems_boardgame_1",
                f"<urlset><url><loc>{BASE}/boardgame/13</loc></url>"
                f"<url><loc>{BASE}/boardgame/174430</loc></url></urlset>",
            ),
            (
                f"{BASE}/sitemap_geekitems_boardgameexpansion_1",
                f"<urlset><url><loc>{BASE}/boardgameexpansion/926</loc></url></urlset>",
            ),
        ],
        "url string, content string",
    )
    thing_ids = thing_ids_table(pages)
    empty_fetched = spark.createDataFrame(
        [], "game_id long, fetch_status string, fetch_timestamp timestamp"
    )
    empty_leases = spark.createDataFrame(
        [], "game_id long, fetch_start_timestamp timestamp"
    )
    pending = tracking.unfetched_ids(
        thing_ids,
        empty_fetched,
        empty_leases,
        now=datetime(2026, 1, 1, tzinfo=timezone.utc),
    )
    assert {r.game_id for r in pending.collect()} == {13, 926, 174430}


def test_chunked_drain_consumes_trailers_and_negative_size(http_srv):
    """ADVICE r14: after the 0-size chunk the drain reads the whole
    trailer section (lines until blank), so trailer bytes can never
    corrupt the next pipelined request; a negative chunk-size line is
    malformed framing and stops the drain instead of spinning."""
    import io

    from bgg_data_warehouse_spark.service_http import _Handler

    h = object.__new__(_Handler)
    h.headers = {"Transfer-Encoding": "chunked"}
    nxt = b"GET /next HTTP/1.1\r\nHost: x\r\n\r\n"
    h.rfile = io.BytesIO(
        b"4\r\nwxyz\r\n0\r\nX-Checksum: abc\r\nX-Other: 1\r\n\r\n" + nxt
    )
    h._drain_body()
    # the pipelined follow-up request is intact and exactly next
    assert h.rfile.read() == nxt
    h.rfile = io.BytesIO(b"-5\r\nstuff\r\nmore")
    h._drain_body()  # malformed: returns promptly (no spin to EOF)


def test_http_chunked_trailer_request_still_answers(http_srv):
    """End-to-end: a chunked request CARRYING trailers still gets a
    well-formed JSON response."""
    body = b"4\r\nwxyz\r\n0\r\nX-Checksum: abc\r\n\r\n"
    resp = _raw_http(
        http_srv,
        b"POST /games/13 HTTP/1.1\r\nHost: x\r\n"
        b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n" + body,
    )
    assert b" 405 " in resp.split(b"\r\n", 1)[0]
    assert b"detail" in resp
