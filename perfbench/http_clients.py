"""Closed-loop HTTP clients for the read phase (run as a child process).

Reads one JSON job from stdin::

    {"port": 8123, "paths": ["/games/13", ...], "expected": [200, ...],
     "warmup": 27, "clients": 4, "seconds": 6.0, "min_ok": 120,
     "sample": [3, 17, ...]}

Each of ``clients`` threads keeps one HTTP/1.1 connection and sends
its next request only after the previous reply (or failure) arrived,
taking paths in order from the shared list. The first ``warmup`` paths
are sent before the clock starts; the timed loop then takes the rest
until ``seconds`` have passed and at least ``min_ok``
requests got their ``expected`` status (or ``GRACE_S`` more seconds
have passed). Writes one JSON object to stdout: per-request
``[index, status, latency_ms]`` of the warm-up (``warmup``) and of the
timed loop (``results``; status -1 = transport error), the bodies of
the sampled indices and the wall time of the timed loop.

Running the clients in their own process keeps their Python work off
the server's interpreter lock.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time

GRACE_S = 60.0  # longest the clients wait past ``seconds`` for ``min_ok``


def send(conn: http.client.HTTPConnection, path: str) -> tuple[int, bytes, float]:
    """One request on a keep-alive connection: (status, body, latency_ms);
    status -1 = transport error."""
    t0 = time.perf_counter()
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        body = resp.read()
        status = resp.status
        if resp.will_close:
            conn.close()
    except (OSError, http.client.HTTPException):
        conn.close()
        status, body = -1, b""
    return status, body, (time.perf_counter() - t0) * 1000.0


def closed_loop(job: dict, indices: range, seconds: float, min_ok: int) -> tuple[list, dict, float]:
    """``clients`` threads take ``indices`` in order until they run out,
    or ``seconds`` have passed and ``min_ok`` requests got their
    expected status (or ``GRACE_S`` more seconds have passed). Returns
    the ``[index, status, latency_ms]`` results, the sampled bodies and
    the wall time."""
    paths, sample = job["paths"], set(job["sample"])
    lock = threading.Lock()
    results: list[list] = []
    bodies: dict[int, str] = {}
    ok = [0]
    deadline = time.perf_counter() + seconds
    cursor = iter(indices)

    def next_index() -> int | None:
        with lock:
            now = time.perf_counter()
            if now > deadline and (ok[0] >= min_ok or now > deadline + GRACE_S):
                return None
            return next(cursor, None)

    def client() -> None:
        conn = http.client.HTTPConnection("127.0.0.1", job["port"], timeout=60)
        mine = []
        while (i := next_index()) is not None:
            status, body, ms = send(conn, paths[i])
            mine.append([i, status, ms])
            if status == job["expected"][i]:
                with lock:
                    ok[0] += 1
            if i in sample and status > 0:
                bodies[i] = body.decode("utf-8")
        conn.close()
        with lock:
            results.extend(mine)

    threads = [threading.Thread(target=client) for _ in range(job["clients"])]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, bodies, time.perf_counter() - t0


def run(job: dict) -> dict:
    warm, _, _ = closed_loop(job, range(job["warmup"]), GRACE_S, job["warmup"])
    results, bodies, wall_s = closed_loop(job, range(job["warmup"], len(job["paths"])),
                                          job["seconds"], job["min_ok"])
    return {"warmup": warm, "results": results, "bodies": bodies, "wall_s": wall_s}


if __name__ == "__main__":
    json.dump(run(json.load(sys.stdin)), sys.stdout)
