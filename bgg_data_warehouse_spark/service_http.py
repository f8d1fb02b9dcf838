"""Stdlib HTTP shell for the read service — closes the last transport
gap the routing contract left open.

Reference: `/root/reference/services/warehouse_api/main.py:18-25` mounts
its routers under FastAPI. ``service.py::handle`` already carries the
whole ROUTING contract (status mapping, tuning-param validation,
allow-list 400s) as a pure function; this module is the thin transport
that serves it over real HTTP using only the standard library — no web
framework dependency, per the container's no-install rule.

Transport responsibilities only (everything else stays in ``handle``):

- parse method / path / query string (query params arrive as single
  values; repeated keys keep the LAST occurrence — Starlette's
  QueryParams builds a dict comprehension over the pairs, so FastAPI's
  scalar query-param binding sees the last value win);
- drain any request body per Content-Length before responding — an
  unread body on a keep-alive-capable client surfaces as a connection
  reset before the response is read;
- JSON-encode the body (dates as ISO-8601), set Content-Type, map the
  (status, body) pair onto the HTTP response line; an exception escaping
  the reader or the encoder maps to a 500 JSON error body instead of a
  dropped connection (the FastAPI shell's default exception handler contract);
- ``ThreadingHTTPServer`` so a slow reader call can't head-of-line
  block health checks.

Scale note: the serving tier is stateless — each request reads
``srv.reader``, an in-memory snapshot that runs no Spark job (readers.py);
horizontal scale is N copies of this process behind any TCP balancer,
exactly the reference's Cloud-Run-shaped deployment.

Usage::

    srv = serve(reader, port=0)      # port 0 = ephemeral, for tests
    srv.reader = GameReader(...)     # publish a refresh: one reference swap
    srv.shutdown()
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from .service import handle


class _Handler(BaseHTTPRequestHandler):
    # the routing contract owns 405 semantics — route every method through
    # handle() rather than letting BaseHTTPRequestHandler 501 on verbs it
    # doesn't know
    def _drain_body(self) -> None:
        # drain the request body (if any) before responding: leaving body bytes
        # unread can reset the connection under a client that pipelines, before
        # it reads our 405/400. A malformed (non-numeric) Content-Length is
        # treated as no body — the route still answers instead of dropping the
        # connection (ADVICE r13) — and chunked bodies are drained by walking
        # the chunk framing until the terminal 0-size chunk.
        te = (self.headers.get("Transfer-Encoding") or "").lower()
        if "chunked" in te:
            while True:
                size_line = self.rfile.readline(65536).split(b";", 1)[0]
                try:
                    size = int(size_line.strip() or b"0", 16)
                except ValueError:
                    return  # malformed framing: stop draining
                if size < 0:
                    # a negative size line is malformed framing too
                    # — looping on it would spin until EOF
                    return
                if size == 0:
                    # trailer section (RFC 9112 §7.1.2): zero or more trailer
                    # header lines, then one blank line ends the body. Reading
                    # a single line here would leave any trailers unread and
                    # corrupt the next pipelined request on the keep-alive
                    # connection (ADVICE r14).
                    while True:
                        line = self.rfile.readline(65536)
                        if line in (b"", b"\r\n", b"\n"):
                            return
                remaining = size + 2  # chunk payload + CRLF
                while remaining > 0:
                    chunk = self.rfile.read(min(remaining, 65536))
                    if not chunk:
                        return
                    remaining -= len(chunk)
        try:
            length = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            length = 0
        while length > 0:
            chunk = self.rfile.read(min(length, 65536))
            if not chunk:
                break
            length -= len(chunk)

    def _dispatch(self, method: str) -> None:
        try:  # widened over the drain too (ADVICE r13): any reader, route,
            # transport-parse or encoding bug maps to a 500 JSON body, never a
            # dropped connection (FastAPI's default handler contract)
            self._drain_body()
            parts = urlsplit(self.path)
            params = {k: v[-1] for k, v in parse_qs(parts.query).items() if v}
            # one read of the published snapshot per request: a refresh
            # swapping srv.reader never hands this request a mix
            status, body = handle(self.server.reader, method, parts.path, params)
            # datetime/date -> ISO-8601; any other unencodable value raises
            payload = json.dumps(body, default=lambda v: v.isoformat()).encode("utf-8")
        except Exception as exc:
            status = 500
            payload = json.dumps({"detail": f"internal error: {exc}"}).encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler API
        self._dispatch("GET")

    def do_POST(self) -> None:  # noqa: N802
        self._dispatch("POST")

    def do_PUT(self) -> None:  # noqa: N802
        self._dispatch("PUT")

    def do_DELETE(self) -> None:  # noqa: N802
        self._dispatch("DELETE")

    def log_message(self, fmt: str, *args) -> None:
        pass  # tests and embedded use: no stderr access log


def serve(reader, host: str = "127.0.0.1", port: int = 8080) -> ThreadingHTTPServer:
    """Start the HTTP shell on a daemon thread and return the server
    (``.server_address`` has the bound port; assigning ``.reader``
    publishes a new snapshot; ``.shutdown()`` stops it)."""
    srv = ThreadingHTTPServer((host, port), _Handler)
    srv.reader = reader
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
