"""Child process of the serve_prices workload: a ``PriceServer`` over
one table directory, in a process of its own as it would be deployed.

Protocol on stdout, one JSON object per line:
  {"port": ..., "setups": [...], "get_spark": [...]}   once serving
  {"spans": [...], "spark": {...}}                     after stdin closes

With ``--trace 1`` requests that carry ``X-Trace-Op`` and
``X-Trace-Parent`` headers are recorded as spans (the handler, the
serving function, plan construction and every ``load_table``), their
Spark jobs are tagged with the op id, and the event log is read back
after the session stops.

Usage: python3 perfbench/price_server.py --sf-dir DIR [--trace 0|1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import common

SETUPS = 3


class ServerTracer(common.Tracer):
    """Records only inside a traced request: spans with no enclosing
    span and no explicit parent are dropped."""

    def span(self, layer, name, op=None, parent=None):
        if not self._stack() and parent is None:
            return common.contextlib.nullcontext()
        return super().span(layer, name, op, parent)


def install_tracing(tracer: common.Tracer, spark, patches: common.Patches) -> None:
    from master_airflow_spark import catalog, http_api, serve

    patches.wrap_everywhere(tracer, catalog.load_table, "catalog", "load_table")
    patches.wrap_everywhere(tracer, serve.top1_price_today, "operators", "plan")
    patches.wrap_everywhere(tracer, serve.top1_price_alltime, "operators", "plan")
    patches.wrap_everywhere(tracer, serve.get_prices_today, "serve", "get_prices")
    patches.wrap_everywhere(tracer, serve.get_prices_alltime, "serve", "get_prices")
    make_handler = http_api.make_handler
    sc = spark.sparkContext

    def traced_make_handler(*a, **k):
        base = make_handler(*a, **k)

        class Handler(base):
            def do_GET(self):  # noqa: N802 (http.server API)
                op = self.headers.get("X-Trace-Op")
                if op is None:
                    return base.do_GET(self)
                sc.setJobGroup(op, op)
                try:
                    with tracer.span("http_api", "handler", op=op,
                                     parent=self.headers.get("X-Trace-Parent")):
                        return base.do_GET(self)
                finally:
                    sc.setJobGroup("bench", "bench")

        return Handler

    patches._saved.append((http_api, "make_handler", make_handler))
    http_api.make_handler = traced_make_handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from master_airflow_spark import serve
    from master_airflow_spark.http_api import PriceServer

    spark, setups, get_spark = None, [], []
    for _ in range(SETUPS):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = common.start_spark()
        get_spark.append(time.monotonic() - t0)
        serve.get_prices_today(spark, args.sf_dir)
        serve.get_prices_alltime(spark, args.sf_dir)
        setups.append(time.monotonic() - t0)

    tracer = ServerTracer(enabled=bool(args.trace))
    patches = common.Patches()
    if args.trace:
        install_tracing(tracer, spark, patches)
    with PriceServer(spark, args.sf_dir) as server:
        print(json.dumps({"port": server.port, "setups": setups, "get_spark": get_spark}), flush=True)
        sys.stdin.read()  # serve until the parent closes our stdin
    patches.restore()
    common.stop_spark(spark)
    groups = {}
    if args.trace:
        import eventlog

        groups = eventlog.read_groups(os.environ["SPARK_GRAFT_EVENTLOG_DIR"])
    print(json.dumps({"spans": tracer.spans, "spark": groups}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
