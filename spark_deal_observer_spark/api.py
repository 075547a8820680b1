"""Thin REST read API over the engine (reference S13, api/lib/app.js:10-20).

The reference's API surface is a Fastify health check returning 'OK' at `/`
(plus a Postgres pool it never queries in the published routes). This module
reproduces that surface and adds the natural Spark read path: a
parameterized query endpoint over the engine's registered query catalog.

Deliberately stdlib-only (`http.server` + `ThreadingHTTPServer`): the
driver process hosts it next to the SparkSession, each request runs a
REGISTERED query by name — never caller-supplied SQL, so the API can't be
used to smuggle arbitrary jobs — and results are JSON with a hard row cap
(it's a read API, not an export path; exports go through the egress sink).

Each registered query is built once per server, on its first request, and
the built DataFrame is held for the server's life. Every request then plans
and runs a fresh `.limit()` Dataset over it, so no request re-runs the
query's Python plan building and Catalyst analysis, two requests never
execute one plan object, and no finished stage or result is reused. The
corpus under `sf_dir` is treated as static: a rewritten corpus needs a new
`create_app` (live routes over the deal table will key the held DataFrame
on the version log's latest version instead). A held DataFrame that fails
to run, say because a published checkpoint behind it died or its files
went, is dropped, rebuilt and run once more within the same request.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ROW_CAP = 1000


def create_app(
    spark: SparkSession,
    sf_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    row_cap: int = DEFAULT_ROW_CAP,
) -> ThreadingHTTPServer:
    """Build the HTTP server (not yet serving). `port=0` = ephemeral.

    Queries are built once per server, each under a lock of its own so one
    build never blocks another's, and each request runs a fresh `.limit()`
    Dataset over the held DataFrame. The corpus under `sf_dir` must stay
    as it is for the server's life."""
    from .plans.registry import REGISTRY

    held: dict[str, DataFrame] = {}
    build_locks: dict[str, threading.Lock] = {}

    def built(name: str, stale: DataFrame | None = None) -> DataFrame:
        """`name`'s held DataFrame, built on first use or when the held one
        is `stale` (a DataFrame that failed to run)."""
        with build_locks.setdefault(name, threading.Lock()):
            df = held.get(name)
            if df is None or df is stale:
                held.pop(name, None)
                df = held[name] = REGISTRY[name].fn(spark, sf_dir)
            return df

    def run(name: str, limit: int) -> list:
        df = built(name)
        try:
            return df.limit(limit).collect()
        except Exception:  # noqa: BLE001 — a dead held plan gets one fresh build
            return built(name, stale=df).limit(limit).collect()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *_args) -> None:  # quiet test output
            pass

        def _send(self, code: int, body: bytes, ctype: str) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _send_json(self, code: int, payload: dict) -> None:
            self._send(code, json.dumps(payload, default=str).encode(), "application/json")

        def do_GET(self) -> None:  # noqa: N802 — http.server contract
            url = urlparse(self.path)
            if url.path == "/":
                # the reference's exact health-check contract
                self._send(200, b"OK", "text/plain")
                return
            if url.path == "/queries":
                self._send_json(200, {"queries": sorted(REGISTRY)})
                return
            if url.path == "/query":
                params = parse_qs(url.query)
                name = params.get("name", [None])[0]
                if name not in REGISTRY:
                    self._send_json(404, {"error": f"unknown query {name!r}"})
                    return
                raw_limit = params.get("limit", [str(row_cap)])[0]
                try:
                    limit = int(raw_limit)
                except ValueError:
                    limit = -1
                if limit < 0:
                    self._send_json(
                        400, {"error": f"limit must be a non-negative integer, got {raw_limit!r}"}
                    )
                    return
                limit = min(limit, row_cap)
                try:
                    rows = [r.asDict(recursive=True) for r in run(name, limit)]
                except Exception as exc:  # noqa: BLE001 — surface as 500
                    self._send_json(500, {"error": str(exc)})
                    return
                self._send_json(200, {"query": name, "rows": rows, "n": len(rows)})
                return
            self._send_json(404, {"error": "not found"})

    return ThreadingHTTPServer((host, port), Handler)


def serve_in_background(server: ThreadingHTTPServer) -> threading.Thread:
    """Start serving on a daemon thread; returns the thread. The bound port
    is `server.server_address[1]`."""
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
