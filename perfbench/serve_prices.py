"""serve_prices: an open loop of GET requests against a ``PriceServer``
running in its own process over a generated sf0.1 lineitem table.

Requests are due at a fixed RATE (about half of what four closed-loop
clients get), with a seeded mix of ``/prices/today`` and
``/prices/alltime``. Each request is sent from a pool of client
threads when it is due and timed from its due time, so a stall also
charges the requests queued behind it. Every payload is compared with
the DuckDB answer to the registered oracle SQL, computed once during
set-up; a mismatch or a non-200 response counts as failed.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import common
import gen

SF = 0.1
RATE = 3.0  # requests per second
CLIENTS = 32
WARMUP = 8
TIMEOUT_S = 60.0


def oracle_payloads(data: str) -> dict[str, dict]:
    """Expected response body per path, from the registered oracle SQL."""
    import duckdb

    from master_airflow_spark import registry

    registry._ensure_loaded()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{data}/lineitem.parquet')")
    out = {}
    for path, query in zip(gen.SERVE_PATHS, ("top1_price_today", "top1_price_alltime")):
        rows = con.execute(registry.REGISTRY[query].oracle).fetchall()
        body = {}
        for which, price, okey, line in rows:
            body[f"{which}_price"] = {"price": price, "l_orderkey": okey, "l_linenumber": line}
        out[path] = body
    con.close()
    return out


def fetch(port: int, path: str, headers: dict) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", path, headers=headers)
        resp = conn.getresponse()
        body = resp.read()
    finally:
        conn.close()
    try:
        return resp.status, json.loads(body)
    except ValueError:
        return resp.status, None


def read_message(child) -> dict | None:
    """The server's next protocol line (a JSON object); anything else a
    library prints on its stdout is skipped. None if it exited."""
    for line in child.stdout:
        if line.startswith("{"):
            return json.loads(line)
    return None


def payload_ok(status: int | None, body: dict | None, want: dict) -> bool:
    return status == 200 and body == want


def run(run) -> tuple[dict, int, int]:
    data = os.path.join(run.work, "data")
    gen.make_tables(data, run.seed, run.sf or SF, tables=("lineitem",))
    here = os.path.dirname(os.path.abspath(__file__))
    child = subprocess.Popen(
        [sys.executable, os.path.join(here, "price_server.py"), "--sf-dir", data,
         "--trace", str(int(run.trace))],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    run.children.append(child)
    expected = oracle_payloads(data)
    ready = read_message(child)
    if not ready:
        raise RuntimeError("price server exited during set-up")
    port = ready["port"]
    common.log("setups", [round(s, 3) for s in ready["setups"]])
    # Warm-up, closed loop: the first requests on a fresh session run
    # visibly slower (code generation, JIT) than the steady state.
    for i in range(WARMUP):
        fetch(port, gen.SERVE_PATHS[i % 2], {})

    tr = run.tracer
    schedule = gen.request_schedule(run.seed, RATE, run.seconds)
    n = len(schedule)
    results: list[tuple | None] = [None] * n
    late: list[float] = [0.0] * n
    traced_from = n // 2 if run.trace else n

    def one(i: int, due: float, path: str) -> None:
        headers = {}
        sent = time.monotonic()
        late[i] = sent - due
        trace_it = i >= traced_from
        status, body = None, None
        if trace_it:
            op = f"req{i}"
            root = {"id": tr.new_id(), "layer": "bench", "name": "op", "op": op,
                    "parent": None, "start": due}
            wait = {"id": tr.new_id(), "layer": "bench", "name": "client_wait", "op": op,
                    "parent": root["id"], "start": due, "end": sent}
            transport = {"id": tr.new_id(), "layer": "http_api", "name": "transport",
                         "op": op, "parent": root["id"], "start": sent}
            headers = {"X-Trace-Op": op, "X-Trace-Parent": transport["id"]}
        try:
            status, body = fetch(port, path, headers)
        except (OSError, http.client.HTTPException) as ex:
            common.log("request failed", i, repr(ex))
        done = time.monotonic()
        if trace_it:
            transport["end"] = root["end"] = done
            tr.spans.extend((root, wait, transport))
        results[i] = (done - due, payload_ok(status, body, expected[path]), trace_it)

    cpu0 = common.TreeMonitor.cpu_seconds()
    t0 = time.monotonic() + 0.05
    with ThreadPoolExecutor(CLIENTS) as pool:
        futures = []
        for i, (offset, path) in enumerate(schedule):
            due = t0 + offset
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(one, i, due, path))
        for f in futures:
            f.result()
    t_end = time.monotonic()
    cpu = common.TreeMonitor.cpu_seconds() - cpu0

    child.stdin.close()
    final = read_message(child) or {"spans": [], "spark": {}}
    child.wait(timeout=120)

    ok = [r for r in results if r is not None and r[1]]
    failed = n - len(ok)
    lat = [r[0] * 1000 for r in ok]
    values = {
        "setup_s": common.median(ready["setups"]),
        "latency_p50_ms": common.median(lat),
        "latency_p75_ms": common.pct(lat, 75),
        "throughput_per_s": len(ok) / (t_end - t0),
        "process.cpu_ms_per_op": 1000 * cpu / n,
    }
    if run.trace:
        tr.spans.extend(final["spans"])
        values.update(trace_values(tr.spans, final["spark"], results, late, ready))
    return values, n, failed


def trace_values(spans, groups, results, late, ready) -> dict:
    vals = common.layer_metrics(spans)
    untraced = [r[0] for r in results if r and r[1] and not r[2]]
    traced = [r[0] for r in results if r and r[1] and r[2]]
    if untraced and traced:
        vals["trace.overhead_pct"] = 100.0 * (common.median(traced) / common.median(untraced) - 1.0)
    vals["generator.late_p95_ms"] = 1000 * common.pct(late, 95)
    vals["session.get_spark_s"] = common.median(ready["get_spark"])
    by = {}
    for s in spans:
        by.setdefault((s["op"], s["layer"], s["name"]), []).append(s["end"] - s["start"])
    ops = sorted({s["op"] for s in spans if s["layer"] == "bench" and s["name"] == "op"})

    def mean_of(layer, name):
        xs = [sum(by.get((op, layer, name), [0.0])) for op in ops]
        return 1000 * sum(xs) / max(1, len(xs))

    handler_start = {s["op"]: s["start"] for s in spans if s["layer"] == "http_api" and s["name"] == "handler"}
    sent = {s["op"]: s["start"] for s in spans if s["layer"] == "http_api" and s["name"] == "transport"}
    waits = [handler_start[o] - sent[o] for o in ops if o in handler_start and o in sent]
    queue_wait = 1000 * sum(waits) / max(1, len(waits))
    get_prices, plan = mean_of("serve", "get_prices"), mean_of("operators", "plan")
    load_calls = [d for (op, l, nm), ds in by.items() if l == "catalog" for d in ds]
    vals.update({
        "catalog.load_table_ms": 1000 * sum(load_calls) / max(1, len(load_calls)),
        "serve.plan_ms": plan,
        "serve.collect_ms": get_prices - plan,
        "http_api.queue_wait_ms": queue_wait,
        "http_api.overhead_ms": mean_of("http_api", "transport") - get_prices - queue_wait,
    })
    vals.update(common.spark_metrics(groups, ops))
    return vals
