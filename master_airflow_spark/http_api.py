"""HTTP serving layer — the reference's two price APIs over the engine.

Reference parity: FastAPI + Mongo serves today's high/low
(api/mongo/main.py:63-77) and Flask + Postgres serves the all-time
high/low (api/postgres/api.py:16-33), each opening a fresh DB
connection per request. Here both endpoints share ONE long-lived
SparkSession and call the serving functions in serve.py (single-pass
top-1 plans, run on serve.py's own child session of it, whose
collected rows are kept per endpoint and table version); the HTTP
machinery is the standard library's threading HTTP server, so the
engine adds no web-framework dependency.

Endpoints (JSON, reference response shape):
    GET /prices/today    -> {"highest_price": {...}, "lowest_price": {...}}
    GET /prices/alltime  -> same shape over all dates
    GET /health          -> {"status": "ok"}
    GET /metrics         -> per route (and "unmatched" for unknown
                            paths): count, errors (non-200 responses),
                            p50/p95 latency in ms over the last
                            1024 requests, plan_hits (served from
                            stored rows, no Spark job) and
                            plan_misses (plan built and collected)

Serving note for real deployments: the first request after lineitem
is written builds and runs the top-1 plan (two Spark jobs, a few
hundred ms at sf0.1 on a warm session); later requests on the same
table version are answered from the rows that request collected, with
no Spark job and no JVM call (a fingerprint walk of lineitem's part
files and a dict lookup). Answers follow the table version and the
confs the server's session was built with; runtime conf changes to
that session do not reach them. The answer is reused only while the
table version is unchanged, so a writer that rewrites lineitem often
turns most requests into misses; for that traffic the same payloads
should be materialized to a key-value store on write — the write path
for that is sinks.writers.write_keyed_upsert.
"""

from __future__ import annotations

import json
import threading
import time
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlsplit

from pyspark.sql import SparkSession

from master_airflow_spark.serve import get_prices_alltime, get_prices_today, plan_reused

UNMATCHED = "unmatched"
LATENCY_WINDOW = 1024  # latencies kept per route for the percentiles


class RouteStats:
    """Per-route request counters behind GET /metrics. ``record`` runs
    on every request thread, so updates and snapshots take a lock."""

    def __init__(self, routes) -> None:
        self._lock = threading.Lock()
        self._counts = {
            r: {"count": 0, "errors": 0, "plan_hits": 0, "plan_misses": 0}
            for r in (*routes, UNMATCHED)
        }
        self._ms = {r: deque(maxlen=LATENCY_WINDOW) for r in self._counts}

    def record(self, route: str, seconds: float, error: bool, reused: bool | None) -> None:
        with self._lock:
            c = self._counts[route]
            c["count"] += 1
            c["errors"] += error
            c["plan_hits"] += reused is True
            c["plan_misses"] += reused is False
            self._ms[route].append(1000 * seconds)

    def snapshot(self) -> dict:
        with self._lock:
            out = {}
            for route, c in self._counts.items():
                ms = sorted(self._ms[route])
                out[route] = {**c, "p50_ms": _nearest_rank(ms, 50), "p95_ms": _nearest_rank(ms, 95)}
            return out


def _nearest_rank(sorted_ms: list[float], pct: int) -> float | None:
    if not sorted_ms:
        return None
    return round(sorted_ms[max(0, -(-pct * len(sorted_ms) // 100) - 1)], 3)


def make_handler(spark: SparkSession, sf_dir: str):
    # Each route returns (payload, whether it was served from stored
    # rows; None where no plan runs).
    routes = {
        "/prices/today": lambda: (get_prices_today(spark, sf_dir), plan_reused()),
        "/prices/alltime": lambda: (get_prices_alltime(spark, sf_dir), plan_reused()),
        "/health": lambda: ({"status": "ok"}, None),
        "/metrics": lambda: (stats.snapshot(), None),
    }
    stats = RouteStats(routes)

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            t0 = time.perf_counter()
            # Route on the decoded path component only — query strings
            # (/prices/today?x=1) and %-encoded paths must still match,
            # as the reference's FastAPI/Flask routing tolerates both.
            path = unquote(urlsplit(self.path).path)
            route = path.rstrip("/") or path
            fn = routes.get(route)
            if fn is None:
                route, code, body, reused = UNMATCHED, 404, {"error": f"no route {self.path}"}, None
            else:
                try:
                    code, (body, reused) = 200, fn()
                except Exception as ex:  # surface, don't swallow
                    code, body, reused = 500, {"error": repr(ex)}, None
            try:
                self._send(code, body)
            finally:
                stats.record(route, time.perf_counter() - t0, code != 200, reused)

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, fmt, *args):
            # Quiet on stderr: GET /metrics reports every request.
            pass

    return Handler


class PriceServer:
    """Threaded HTTP server bound to an ephemeral (or given) port.
    Use as a context manager; ``.port`` is the bound port."""

    def __init__(self, spark: SparkSession, sf_dir: str, port: int = 0):
        self._httpd = ThreadingHTTPServer(
            ("127.0.0.1", port), make_handler(spark, sf_dir)
        )
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    def __enter__(self) -> "PriceServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=5)
