"""ingest_daily: seeded HTML pages through ``gas_prices_pipeline`` over
consecutive logical dates into a fresh sink directory.

An episode ingests DATES logical dates into a new sink (append sink
plus keyed-upsert sink); episodes repeat until the run's seconds are
spent. The keyed upsert re-reads and rewrites its whole history every
date, so an episode's later dates cost more than its first; every
episode has the same shape, so the distribution of date runs does not
depend on the seed. Each date run is one operation.

Correctness, after every date (outside its timing): the append sink
holds exactly the rows the generator kept so far, and the upsert sink
holds one row per (date, station) with the last-written price.
"""

from __future__ import annotations

import itertools
import os
import time

import common
import gen

PAGES_PER_DATE = 5
ROWS_PER_PAGE = 2000
STATIONS = 8000
DATES = 4
MIN_EPISODES = 2
FIRST_DATE = "2024-03-01"
SETUPS = 3


def sink_rows(path: str, con) -> list[tuple]:
    return con.execute(
        'SELECT CAST("date" AS VARCHAR), page_id, price, station, city, "time", "user" '
        f"FROM read_parquet('{path}/*.parquet')"
    ).fetchall()


def check_sinks(sink: str, expected: dict[str, list[tuple]], con) -> list[str]:
    """Mismatches between the two sinks and the generator's prediction
    for the dates ingested so far (empty when equal)."""
    bad = []
    want_append = sorted(
        (d, pid, price, st, city, tm, user)
        for d, rows in expected.items()
        for pid, price, st, city, tm, user in rows
    )
    got_append = sorted(sink_rows(f"{sink}/append", con))
    if got_append != want_append:
        bad.append(f"append: {len(got_append)} rows, expected {len(want_append)}")
    want_upsert = gen.last_write_wins(expected)
    got = con.execute(
        'SELECT CAST("date" AS VARCHAR), station, price, page_id '
        f"FROM read_parquet('{sink}/upsert/*.parquet')"
    ).fetchall()
    got_upsert = {(d, st): (price, pid) for d, st, price, pid in got}
    if len(got) != len(got_upsert) or got_upsert != want_upsert:
        bad.append(f"upsert: {len(got)} rows, expected {len(want_upsert)}")
    return bad


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def run(run) -> tuple[dict, int, int]:
    import duckdb

    pages_dir = os.path.join(run.work, "pages")
    os.makedirs(pages_dir)
    days = gen.dates(FIRST_DATE, DATES)
    expected, page_html, generated = {}, {}, 0
    for i, d in enumerate(days):
        pages, expected[d] = gen.make_day(run.seed, i, PAGES_PER_DATE, ROWS_PER_PAGE, STATIONS)
        gen.write_pages(os.path.join(pages_dir, f"{d}.parquet"), pages)
        page_html[d] = [html for _, html in pages]
        generated += PAGES_PER_DATE * ROWS_PER_PAGE

    tr = run.tracer
    spark, setups, get_spark = None, [], []
    for _ in range(SETUPS):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = common.start_spark()
        get_spark.append(time.monotonic() - t0)
        spark.read.parquet(os.path.join(pages_dir, f"{days[0]}.parquet")).count()
        setups.append(time.monotonic() - t0)
    run.spark = spark
    common.log("setups", [round(s, 3) for s in setups])

    from master_airflow_spark.pipeline import gas_prices_pipeline
    from master_airflow_spark.sinks import writers
    from master_airflow_spark.sources import html_extract

    def pages_provider(ctx):
        with tr.span("bench", "pages_provider"):
            return ctx.spark.read.parquet(os.path.join(pages_dir, f"{ctx.run_date}.parquet"))

    sinks_root = os.path.join(run.work, "sinks")
    con = duckdb.connect()
    sc = spark.sparkContext

    # Warm-up: one untimed episode into a throw-away sink (the first
    # episode on a fresh session runs visibly slower than later ones).
    warm = gas_prices_pipeline(pages_provider)
    for d in days:
        warm.run(spark, d, {"sink_dir": f"{sinks_root}/warm"})

    walls: dict[bool, list[float]] = {False: [], True: []}
    stage_t: dict[str, list[float]] = {}
    gaps, rewritten, stored, parse = [], [], [], []
    failed = attempted = rows_done = 0
    patches = common.Patches()
    cpu0 = common.TreeMonitor.cpu_seconds()
    t_start = time.monotonic()
    half = t_start + run.seconds / 2
    deadline = t_start + run.seconds
    ep_wall = 0.0
    for ep in itertools.count():
        # Whole episodes only: start one while at most half of it would
        # run past the limit, and run at least MIN_EPISODES, so that a
        # run's dates do not split differently between fast and slow
        # first episodes. Trace mode: untraced episodes up to half the
        # seconds, then traced ones; at least one of each.
        now = time.monotonic()
        if run.trace and not tr.enabled and ep > 0 and now + ep_wall / 2 >= half:
            tr.enabled = True
            patches.wrap_everywhere(tr, html_extract.scrape_pipeline, "sources.html_extract", "scrape_pipeline")
            patches.wrap_everywhere(tr, writers.fan_out, "sinks.writers", "fan_out")
            patches.wrap_everywhere(tr, writers.write_keyed_upsert, "sinks.writers", "upsert")
        elif ep >= MIN_EPISODES and now + ep_wall / 2 >= deadline:
            break
        trace_it = tr.enabled
        pipe = gas_prices_pipeline(pages_provider)
        sink = f"{sinks_root}/ep{ep}"
        for i, d in enumerate(days):
            op = f"{d}#{ep}"
            if trace_it:
                sc.setJobGroup(op, op)
            t0 = time.monotonic()
            with tr.span("bench", "op", op=op):
                with tr.span("pipeline", "run"):
                    ctx = pipe.run(spark, d, {"sink_dir": sink})
            wall = time.monotonic() - t0
            if trace_it:
                sc.setJobGroup("bench", "bench")
            walls[trace_it].append(wall)
            attempted += 1
            rows_done += len(expected[d])
            bad = check_sinks(sink, {k: expected[k] for k in days[: i + 1]}, con)
            if bad:
                failed += 1
                common.log("MISMATCH", op, bad)
            if trace_it:
                timings = ctx.outputs["__timings__"]
                for k, v in timings.items():
                    stage_t.setdefault(k, []).append(v)
                gaps.append(wall - sum(timings.values()))
                rewritten.append(dir_bytes(f"{sink}/upsert") / len(expected[d]))
                t1 = time.monotonic()
                for html in page_html[d]:
                    html_extract._extract_page(html)
                parse.append(time.monotonic() - t1)
        ep_wall = time.monotonic() - now
        n_rows = sum(len(v) for v in expected.values())
        stored.append((dir_bytes(f"{sink}/append") + dir_bytes(f"{sink}/upsert")) / n_rows)
    t_end = time.monotonic()
    cpu = common.TreeMonitor.cpu_seconds() - cpu0
    patches.restore()
    con.close()

    all_walls = walls[False] + walls[True]
    lat = [w * 1000 for w in all_walls]
    values = {
        "setup_s": common.median(setups),
        "latency_p50_ms": common.median(lat),
        "latency_p75_ms": common.pct(lat, 75),
        "throughput_per_s": rows_done / sum(all_walls),
        "process.cpu_ms_per_op": 1000 * cpu / attempted,
    }
    common.log("dates", attempted, "phase_s", round(t_end - t_start, 2))
    if run.trace:
        import eventlog

        spans = tr.spans
        vals = common.layer_metrics(spans)
        ops = sorted({s["op"] for s in spans if s["layer"] == "bench" and s["name"] == "op"})
        n = max(1, len(ops))
        fan, _ = common.span_total(spans, "sinks.writers", "fan_out")
        ups, _ = common.span_total(spans, "sinks.writers", "upsert")
        vals.update({
            "trace.overhead_pct": 100.0 * (common.median(walls[True]) / common.median(walls[False]) - 1.0)
            if walls[False] and walls[True] else 0.0,
            "session.get_spark_s": common.median(get_spark),
            "html_extract.parse_s": common.median(parse),
            "html_extract.rows_kept_ratio": sum(len(v) for v in expected.values()) / generated,
            "writers.append_s": (fan - ups) / n,
            "writers.upsert_s": ups / n,
            "writers.upsert_bytes_rewritten_per_row": common.median(rewritten),
            "writers.stored_bytes_per_row": common.median(stored),
            "pipeline.driver_gap_s": common.median(gaps),
        })
        for k, v in stage_t.items():
            vals[f"pipeline.{k}_s"] = common.median(v)
        common.stop_spark(spark)
        run.spark = None
        vals.update(common.spark_metrics(eventlog.read_groups(os.environ["SPARK_GRAFT_EVENTLOG_DIR"]), ops))
        values.update(vals)
    return values, attempted, failed
