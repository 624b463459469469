"""End-to-end test of the HTTP serving layer (reference api/mongo +
api/postgres endpoints) against a live engine session: payloads against
the DuckDB oracle, a table rewrite under a running server, concurrent
requests and the /metrics counters."""

from __future__ import annotations

import json
import os
import sys
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq

from master_airflow_spark.catalog import table_path
from master_airflow_spark.http_api import PriceServer

PRICES = ("/prices/today", "/prices/alltime")


def _get(port: int, path: str):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read())


def test_price_endpoints(spark, sf_dir, price_oracle):
    want = price_oracle(sf_dir)
    with PriceServer(spark, sf_dir) as srv:
        assert _get(srv.port, "/health") == (200, {"status": "ok"})
        for path in PRICES:
            assert _get(srv.port, path) == (200, want[path])
            assert _get(srv.port, path + "/?x=1") == (200, want[path])
        code, err = _get(srv.port, "/nope")
        assert code == 404 and "error" in err


def _rewrite_lineitem(sf_dir: str) -> None:
    """Replace lineitem with its rows below the top price, written
    beside it and renamed over it, as a table writer swaps a version."""
    path = table_path(sf_dir, "lineitem")
    t = pq.read_table(path)
    t = t.filter(pc.less(t["l_extendedprice"], pc.max(t["l_extendedprice"])))
    pq.write_table(t, path + ".tmp")
    os.replace(path + ".tmp", path)


def test_rewrite_under_running_server(spark, lineitem_dir, price_oracle):
    before = price_oracle(lineitem_dir)
    with PriceServer(spark, lineitem_dir) as srv:
        for _ in range(2):
            for path in PRICES:
                assert _get(srv.port, path) == (200, before[path])
        _rewrite_lineitem(lineitem_dir)
        after = price_oracle(lineitem_dir)
        assert after["/prices/alltime"] != before["/prices/alltime"]
        for _ in range(2):
            for path in PRICES:
                assert _get(srv.port, path) == (200, after[path])
        _, metrics = _get(srv.port, "/metrics")
    # one build per route and table version, every other request reused it
    for path in PRICES:
        assert (metrics[path]["plan_misses"], metrics[path]["plan_hits"]) == (2, 2)


def test_concurrent_requests_all_correct(spark, lineitem_dir, price_oracle):
    """40 requests from 8 threads, starting with no stored rows, so the
    first ones race on the miss: one per route collects, the others
    wait for it and are served from its rows."""
    want = price_oracle(lineitem_dir)
    paths = [PRICES[i % 2] for i in range(40)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with PriceServer(spark, lineitem_dir) as srv:
            with ThreadPoolExecutor(8) as pool:
                got = list(pool.map(lambda p: _get(srv.port, p), paths, timeout=300))
            _, metrics = _get(srv.port, "/metrics")
    finally:
        sys.setswitchinterval(interval)
    assert got == [(200, want[p]) for p in paths]
    for path in PRICES:
        m = metrics[path]
        assert (m["count"], m["errors"], m["plan_misses"], m["plan_hits"]) == (20, 0, 1, 19)


def test_metrics_count_requests(spark, sf_dir):
    sent = {"/prices/today": 3, "/prices/alltime": 2, "/health": 4, "/nope": 2, "/prices": 1}
    with PriceServer(spark, sf_dir) as srv:
        for path, n in sent.items():
            for _ in range(n):
                _get(srv.port, path)
        code, metrics = _get(srv.port, "/metrics")
        _, again = _get(srv.port, "/metrics")
    assert code == 200
    want = {"/prices/today": 3, "/prices/alltime": 2, "/health": 4, "unmatched": 3, "/metrics": 0}
    assert {r: m["count"] for r, m in metrics.items()} == want
    assert again["/metrics"]["count"] == 1
    assert metrics["unmatched"]["errors"] == 3
    for route in ("/prices/today", "/prices/alltime", "/health"):
        m = metrics[route]
        assert m["errors"] == 0
        assert 0 < m["p50_ms"] <= m["p95_ms"]
    for route in PRICES:
        m = metrics[route]
        assert m["plan_hits"] + m["plan_misses"] == sent[route]
    assert metrics["/health"]["plan_hits"] == metrics["/health"]["plan_misses"] == 0
    assert metrics["/metrics"]["p50_ms"] is None
