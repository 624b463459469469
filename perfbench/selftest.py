"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py            # checks + smoke runs (~4 min)
    python3 perfbench/selftest.py --no-smoke # checks only (seconds)

Checks that the same seed gives byte-identical inputs and a different
seed does not; that BENCHMARK.json lists exactly metrics.py's
catalogue; that a perturbed output is counted as failed by each
workload's checker; and (smoke) that a seconds-long run of every
workload at sf0.01, untraced and traced, exits 0 and prints exactly
the catalogued metric names and units.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import subprocess
import sys

import common
import gen
import metrics

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def file_digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = gen.digest(f.read())
    return out


def check_determinism(tmp: str) -> None:
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    gen.make_tables(a, 7, 0.001)
    gen.make_tables(b, 7, 0.001)
    gen.make_tables(c, 8, 0.001)
    da, db, dc = file_digests(a), file_digests(b), file_digests(c)
    expect(da == db, "same seed: byte-identical tables")
    expect(da["lineitem.parquet"] != dc["lineitem.parquet"], "other seed: different tables")
    d7, d7b, d8 = (gen.make_day(s, 2, 3, 50, 400) for s in (7, 7, 8))
    expect(gen.digest(d7) == gen.digest(d7b), "same seed: byte-identical pages and expected rows")
    expect(gen.digest(d7) != gen.digest(d8), "other seed: different pages")
    expect(gen.request_schedule(7, 4, 10) == gen.request_schedule(7, 4, 10)
           and gen.request_schedule(7, 4, 10) != gen.request_schedule(8, 4, 10),
           "request schedule follows the seed")
    names = list(metrics.HEADLINE)
    expect(gen.query_order(7, names, 0) == gen.query_order(7, names, 0)
           and gen.query_order(7, names, 0) != gen.query_order(8, names, 0),
           "query order follows the seed")


def check_catalogue() -> None:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    expect(e2e == list(metrics.END_TO_END), "BENCHMARK.json end_to_end matches metrics.py")
    expect(layer == list(metrics.PER_LAYER), "BENCHMARK.json per_layer matches metrics.py")
    expect([w["name"] for w in bench["workloads"]] == ["serve_prices", "ingest_daily", "query_suite"],
           "BENCHMARK.json workloads")


def check_perturbed(tmp: str) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import ingest_daily
    import query_suite
    import serve_prices

    # serve_prices: one cent off, or a non-200, is a failure
    data = os.path.join(tmp, "a")
    want = serve_prices.oracle_payloads(data)["/prices/today"]
    bent = json.loads(json.dumps(want))
    bent["highest_price"]["price"] += 0.01
    expect(serve_prices.payload_ok(200, want, want), "serve: exact payload passes")
    expect(not serve_prices.payload_ok(200, bent, want), "serve: perturbed payload fails")
    expect(not serve_prices.payload_ok(500, want, want), "serve: non-200 fails")

    # ingest_daily: sinks written from the prediction pass, one changed
    # price fails
    days = gen.dates(ingest_daily.FIRST_DATE, 2)
    expected = {d: gen.make_day(7, i, 3, 50, 120)[1] for i, d in enumerate(days)}
    rows = [(d, *r) for d, rs in expected.items() for r in rs]
    winners = gen.last_write_wins(expected)

    def write_sinks(sink: str, bend: bool) -> None:
        cols = ["date", "page_id", "price", "station", "city", "time", "user"]
        app = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
        if bend:
            app["price"][5] += 1.0
        app["date"] = pa.array([datetime.date.fromisoformat(x) for x in app["date"]])
        for name, cols_ in (("append", app), ("upsert", {
            "date": pa.array([datetime.date.fromisoformat(d) for d, _ in winners]),
            "station": [s for _, s in winners],
            "price": [v[0] for v in winners.values()],
            "page_id": [v[1] for v in winners.values()],
        })):
            os.makedirs(os.path.join(sink, name))
            pq.write_table(pa.table(cols_), os.path.join(sink, name, "part-0.parquet"))

    con = duckdb.connect()
    write_sinks(os.path.join(tmp, "sink_ok"), False)
    write_sinks(os.path.join(tmp, "sink_bad"), True)
    expect(ingest_daily.check_sinks(os.path.join(tmp, "sink_ok"), expected, con) == [],
           "ingest: sinks equal to the prediction pass")
    expect(ingest_daily.check_sinks(os.path.join(tmp, "sink_bad"), expected, con) != [],
           "ingest: perturbed sink fails")

    # query_suite: the oracle's own answer passes, one changed cell fails
    from master_airflow_spark import registry
    from master_airflow_spark.testing import duckdb_connection

    registry._ensure_loaded()
    oc = duckdb_connection(data)
    good = oc.execute(registry.REGISTRY["pricing_summary"].oracle).df()
    bad = good.copy()
    bad.iloc[0, bad.columns.get_loc("sum_qty")] += 1

    class Frame:  # the one method testing.compare uses
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):  # noqa: N802 (Spark API)
            return self.pdf

    expect(query_suite.check_query("pricing_summary", Frame(good), oc) == [],
           "query: oracle answer passes")
    expect(query_suite.check_query("pricing_summary", Frame(bad), oc) != [],
           "query: perturbed answer fails")
    oc.close()
    con.close()


def smoke(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(common.ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "2",
           "--trace", str(trace), "--sf", "0.01"]
    p = subprocess.run(cmd, cwd=common.ROOT, capture_output=True, text=True, timeout=300)
    what = f"smoke {workload} trace={trace}"
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        expect(False, f"{what}: exit {p.returncode}")
        return
    out = json.loads(p.stdout.strip().splitlines()[-1])
    expect(sorted(out) == ["attempted", "correct", "failed", "metrics"], f"{what}: result keys")
    expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, f"{what}: correct")
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    expect(got == metrics.units(bool(trace)), f"{what}: metric names and units")


def main() -> int:
    tmp = os.path.join(common.ROOT, ".perfbench_tmp", f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    sys.path.insert(1, common.ROOT)
    try:
        check_determinism(tmp)
        check_catalogue()
        check_perturbed(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--no-smoke" not in sys.argv:
        for w in ("serve_prices", "ingest_daily", "query_suite"):
            for trace in (0, 1):
                smoke(w, trace)
    print("FAILED:" if FAILURES else "all checks passed", *FAILURES, sep="\n  ")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
