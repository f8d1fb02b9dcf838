"""API read phase: ``service_http.serve`` over a ``GameReader`` on the
persisted tables, driven by closed-loop clients in a child process.

Status codes of every request are checked against what the route
contract promises for a known or unknown game, and a seeded sample of
response bodies is compared with direct reads of the persisted tables.

The routes whose bodies hold a timestamp (``IN_PROCESS_ROUTES``) are not
sent over HTTP: ``service_http`` JSON-encodes bodies outside its
``try`` and without date handling, so it drops the connection on them.
One request of each is routed through ``service_http.handle`` in
process instead (same routing and readers, no JSON transport), after
the HTTP loop, with its status and body checked.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

from pyspark.sql import functions as F

import gen
from bgg_data_warehouse_spark import io, service_http
from warehouse import reader

MAX_REQUESTS = 20_000
BODY_SAMPLE = 4
WARMUP = 27  # requests sent before the timed loop (three blocks of the HTTP mix), checked but not timed
# routes whose bodies service_http cannot encode (timestamps); the first
# request of each in the seeded traffic is served in process
IN_PROCESS_ROUTES = ("game", "predictions", "embedding", "provenance")


def _json(v):
    return json.loads(json.dumps(v, default=str))


def path_of(route: str, gid: int, params: dict, rid: int | None) -> str:
    q = dict(params)
    if rid is not None:
        q["rid"] = str(rid)  # ignored by the routes; ties spans to requests
    p = gen.ROUTE_PATH[route].format(gid)
    return p + ("?" + "&".join(f"{k}={v}" for k, v in q.items()) if q else "")


def expected_status(route: str, gid: int, known: dict[str, set]) -> int:
    """404 for a game the route's table does not hold, else 200."""
    return 404 if route in known and gid not in known[route] else 200


def direct_body(spark, root: str, route: str, gid: int):
    """What the route should answer, read straight from the tables."""

    def rows(table, cols=None, order=None):
        df = io.read_table(spark, root, table).where(F.col("game_id") == gid)
        if cols:
            df = df.select(*cols)
        if order is not None:
            df = df.orderBy(order)
        return [r.asDict(recursive=True) for r in df.collect()]

    if route == "game":
        got = rows("game_profile", ["game_id", "name", "year_published", "geek_rating", "complexity"])
        return got[0] if got else None
    if route == "features":
        got = rows("games_features", ["game_id", "name", "categories", "mechanics", "complexity", "geek_rating"])
        if not got:
            return None
        got[0]["player_counts"] = rows("player_count_recommendations", order="player_count")
        return got[0]
    if route == "players":
        return rows("player_count_recommendations", order="player_count")
    if route == "similar":
        nb = io.read_table(spark, root, "game_neighbors")
        got = nb.where((F.col("game_id") == gid) & (F.col("profile") == "default")).collect()
        return [s.asDict() for s in got[0].similar] if got else []
    if route == "predictions":
        got = rows("bgg_predictions")
        return got[0] if got else None
    if route == "embedding":
        got = rows("bgg_game_coordinates", ["game_id", "umap_1", "umap_2", "pca_1", "pca_2",
                                            "embedding_model", "embedding_version", "created_ts"])
        return got[0] if got else None
    if route == "provenance":
        return rows("fetched_responses", ["record_id", "game_id", "fetch_timestamp", "fetch_status"])
    return None  # similar_live: checked structurally


def body_matches(spark, root: str, route: str, gid: int, params: dict, status: int, body) -> bool:
    if status == 404:
        return isinstance(body, dict) and str(gid) in body.get("detail", "")
    if route == "similar_live":
        n = int(params["n"])
        scores = [r["score"] for r in body]
        return len(body) <= n and scores == sorted(scores, reverse=True) and all(
            r["game_id"] != gid for r in body
        )
    want = _json(direct_body(spark, root, route, gid))
    if route == "game":
        return body is not None and {k: body.get(k) for k in want} == want
    if route == "provenance":
        key = lambda r: r["record_id"]  # noqa: E731 — ties on fetch_timestamp
        return sorted(body, key=key) == sorted(want, key=key)
    return body == want


def in_process(spark, root: str, rdr, local: list, known: dict[str, set]) -> list[str]:
    """Serve ``local`` requests through the routing call in process and
    check each status and body; returns one message per wrong answer."""
    bad = []
    for route, gid, params in local:
        path = gen.ROUTE_PATH[route].format(gid)
        status, body = service_http.handle(rdr, "GET", path, dict(params))
        want = expected_status(route, gid, known)
        if status != want:
            bad.append(f"{path} (in process) -> {status}, expected {want}")
        elif not body_matches(spark, root, route, gid, params, status, _json(body)):
            bad.append(f"{path} (in process): body differs from a direct read of the tables")
    return bad


def read_phase(spark, root: str, corpus: gen.Corpus, known: dict[str, set], seed: int,
               seconds: float, clients: int, min_requests: int, traced: bool) -> dict:
    """Serve the warehouse, run the clients, check every answer.
    ``known[route]`` holds the ids the route's table should serve (the
    others must get a 404). A request succeeds when it gets its expected
    status (and, if sampled, a body equal to a direct read); a dropped
    connection or any other status is a failure. Latencies and the
    completed count cover successful HTTP requests of the timed loop
    (after ``WARMUP`` requests) only; the in-process
    share (``IN_PROCESS_ROUTES``) counts in attempted/failed only."""
    reqs = gen.read_requests(corpus, seed, MAX_REQUESTS)
    local = [next(r for r in reqs if r[0] == route) for route in IN_PROCESS_ROUTES]
    reqs = [r for r in reqs if r[0] not in IN_PROCESS_ROUTES]
    paths = [path_of(r, g, p, i if traced else None) for i, (r, g, p) in enumerate(reqs)]
    expected = [expected_status(r, g, known) for r, g, _ in reqs]
    timed = range(WARMUP, WARMUP + min_requests)
    sample = sorted(random.Random(f"sample:{seed}").sample(timed, BODY_SAMPLE))
    job = {"port": 0, "paths": paths, "expected": expected, "warmup": WARMUP, "clients": clients,
           "seconds": seconds, "min_ok": min_requests, "sample": sample}

    rdr = reader(spark, root)
    srv = service_http.serve(rdr, port=0)
    try:
        job["port"] = srv.server_address[1]
        proc = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "http_clients.py")],
            input=json.dumps(job), capture_output=True, text=True, timeout=seconds + 120, check=True,
        )
    finally:
        srv.shutdown()
        srv.server_close()
    out = json.loads(proc.stdout)

    answered = out["warmup"] + out["results"]
    bad: dict[int, str] = {}
    for i, status, _ in answered:
        if status == -1:
            bad[i] = f"{paths[i]} -> connection dropped, expected {expected[i]}"
        elif status != expected[i]:
            bad[i] = f"{paths[i]} -> {status}, expected {expected[i]}"
    for i_str, text in out["bodies"].items():
        i = int(i_str)
        route, gid, params = reqs[i]
        if i not in bad and not body_matches(spark, root, route, gid, params, expected[i], json.loads(text)):
            bad[i] = f"{paths[i]}: body differs from a direct read of the tables"
    dropped = sum(status == -1 for _, status, _ in answered)
    errors = [bad[i] for i in sorted(bad)[:5]]
    local_bad = in_process(spark, root, rdr, local, known)
    errors += local_bad[:5]
    if dropped:
        errors.append(f"{dropped} of {len(answered)} requests got no reply (connection dropped)")
    ok = {i: ms for i, _, ms in out["results"] if i not in bad}
    return {
        "attempted": len(answered) + len(local),
        "failed": len(bad) + len(local_bad),
        "transport_errors": dropped,
        "errors": errors,
        "latencies_ms": list(ok.values()),
        "by_index": ok,
        "wall_s": out["wall_s"],
    }
