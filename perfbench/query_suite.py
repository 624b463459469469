"""query_suite: the 26 headline registered queries, run the way a
caller of ``registry.queries()`` runs them — a fresh ``fn()`` per
query, then full materialization through the noop sink — in a seeded
order per pass.

Correctness: every query's output is hash-compared against its DuckDB
oracle with ``testing.compare`` once per run, before the timed phase,
two queries at a time (that pass also warms the session). The timed phase runs whole passes
first, then keeps going query by query until the run's seconds are
spent; each query's time is the median of its samples, so the mix of
queries measured does not depend on where the clock ran out.
"""

from __future__ import annotations

import itertools
import os
import time

import common
import gen
from metrics import DRAINS, HEADLINE

SF = 0.01
SETUPS = 3
CHECK_THREADS = 2


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_query(name: str, df, con) -> list[str]:
    """Mismatches of one query's output against its registered oracle
    (empty when equal)."""
    from master_airflow_spark import registry
    from master_airflow_spark.testing import compare

    return compare(name, df, con, registry.REGISTRY[name].oracle).mismatches


def check_pass(spark, data: str, order: list[str]) -> int:
    """Compare every query with its oracle; returns the mismatch count.

    Two threads share the session. Nothing is released until both are
    done, so no query's tracked caches, memory tables or scratch
    directories are dropped under it; stream drains still serialize on
    the package's drain lock. The pass also warms the session for the
    timed phase."""
    from concurrent.futures import ThreadPoolExecutor

    from master_airflow_spark import registry
    from master_airflow_spark.testing import duckdb_connection

    def worker(names: list[str]) -> int:
        bad_count = 0
        con = duckdb_connection(data)
        try:
            for name in names:
                bad = check_query(name, registry.REGISTRY[name].fn(spark, data), con)
                if bad:
                    bad_count += 1
                    common.log("MISMATCH", name, bad[:3])
        finally:
            con.close()
        return bad_count

    try:
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            return sum(pool.map(worker, [order[i::CHECK_THREADS] for i in range(CHECK_THREADS)]))
    finally:
        registry.release_caches()


def set_up(run, data: str, spark):
    """One set-up: (re)start the session, load the registry, open every
    table and run a first action."""
    from master_airflow_spark import registry
    from master_airflow_spark.catalog import TABLES, load_table

    t0 = time.monotonic()
    if spark is not None:
        spark.stop()
    spark = common.start_spark()
    get_spark_s = time.monotonic() - t0
    registry._ensure_loaded()
    for t in TABLES:
        df = load_table(spark, data, t)
    df.count()
    return spark, get_spark_s


def run(run) -> tuple[dict, int, int]:
    sf = run.sf or SF
    data = os.path.join(run.work, "data")
    gen.make_tables(data, run.seed, sf)
    from master_airflow_spark import registry
    from master_airflow_spark.streaming import events as stream_events

    spark, setups, get_spark = None, [], []
    for _ in range(SETUPS):
        t0 = time.monotonic()
        spark, gs = set_up(run, data, spark)
        setups.append(time.monotonic() - t0)
        get_spark.append(gs)
    run.spark = spark
    common.log("setups", [round(s, 3) for s in setups])

    names = list(HEADLINE)
    t0 = time.monotonic()
    failed = check_pass(spark, data, gen.query_order(run.seed, names, -1))
    common.log("check pass", round(time.monotonic() - t0, 3), "failed", failed)

    sc = spark.sparkContext
    tr = run.tracer
    samples: dict[str, list[float]] = {n: [] for n in names}
    pass_walls: dict[bool, float] = {False: 0.0, True: 0.0}
    drains: dict[str, list[tuple[float, float]]] = {d: [] for d in DRAINS}
    ops = 0

    def one(name: str, p: int, trace_it: bool) -> float:
        op = f"{name}#{p}"
        if trace_it:
            sc.setJobGroup(op, op)
        stream_events.reset_drain_trigger_seconds()
        t0 = time.monotonic()
        with tr.span("bench", "op", op=op):
            with tr.span("operators", "release"):
                registry.release_caches()
            with tr.span("operators", "plan"):
                df = registry.REGISTRY[name].fn(spark, data)
            with tr.span("operators", "execute"):
                materialize(df)
        wall = time.monotonic() - t0
        if name in drains:
            w, trig = stream_events.drain_wall_seconds(), stream_events.drain_trigger_seconds()
            drains[name].append((w, trig))
        if trace_it:
            sc.setJobGroup("bench", "bench")
        return wall

    patches = common.Patches()
    cpu0 = common.TreeMonitor.cpu_seconds()
    t_start = time.monotonic()
    deadline = t_start + run.seconds
    # Untraced: one whole pass, then query by query until the seconds
    # are spent. Traced: one untraced pass, then one traced pass (spans,
    # wrappers and job groups on); their ratio is the tracing overhead.
    for p in itertools.count():
        trace_it = run.trace and p == 1
        if trace_it:
            from master_airflow_spark import catalog
            from master_airflow_spark.streaming import events, shared_drain

            tr.enabled = True
            patches.wrap_everywhere(tr, catalog.load_table, "catalog", "load_table")
            patches.wrap_everywhere(tr, events.run_to_memory, "streaming.events", "drain")
            patches.wrap_everywhere(tr, shared_drain.drain_events_multi, "streaming.events", "drain")
        order = gen.query_order(run.seed, names, p)
        if p > 0 and not run.trace:
            order = itertools.takewhile(lambda _: time.monotonic() < deadline, order)
        for name in order:
            wall = one(name, p, trace_it)
            ops += 1
            samples[name].append(wall)
            pass_walls[trace_it] += wall
        if trace_it:
            tr.enabled = False
            patches.restore()
        if trace_it or (not run.trace and time.monotonic() >= deadline):
            break
    t_end = time.monotonic()
    cpu = common.TreeMonitor.cpu_seconds() - cpu0
    registry.release_caches()

    per_query = {n: common.median(s) for n, s in samples.items()}
    lat = [v * 1000 for v in per_query.values()]
    values = {
        "setup_s": common.median(setups),
        "latency_p50_ms": common.median(lat),
        "latency_p75_ms": common.pct(lat, 75),
        "throughput_per_s": len(names) / sum(per_query.values()),
        "process.cpu_ms_per_op": 1000 * cpu / ops,
    }
    common.log("ops", ops, "phase_s", round(t_end - t_start, 2), "suite_s", round(sum(per_query.values()), 3))
    if run.trace:
        values.update(trace_values(run, spark, pass_walls, drains, get_spark))
    return values, len(names) + ops, failed


def trace_values(run, spark, pass_walls, drains, get_spark) -> dict:
    import eventlog

    spans = run.tracer.spans
    vals = common.layer_metrics(spans)
    vals["trace.overhead_pct"] = 100.0 * (pass_walls[True] / pass_walls[False] - 1.0)
    vals["session.get_spark_s"] = common.median(get_spark)
    ops = [s for s in spans if s["layer"] == "bench" and s["name"] == "op"]
    for kind in ("plan", "execute"):
        vals[f"operators.{'plan_build' if kind == 'plan' else 'execute'}_s"] = (
            common.span_total(spans, "operators", kind)[0]
        )
    by_op = {s["op"]: s for s in ops}
    for s in spans:
        if s["layer"] == "operators" and s["name"] in ("plan", "execute") and s["op"] in by_op:
            q = s["op"].split("#")[0]
            key = "plan_ms" if s["name"] == "plan" else "exec_ms"
            vals[f"query.{q}.{key}"] = 1000 * (s["end"] - s["start"])
    total, n = common.span_total(spans, "catalog", "load_table")
    vals["catalog.load_table_ms"] = 1000 * total / max(1, n)
    for d, xs in drains.items():
        if len(xs) >= 2:  # the traced pass's drain
            w, trig = xs[1]
            vals[f"streaming.{d}.drain_wall_s"] = w
            vals[f"streaming.{d}.trigger_s"] = trig
            vals[f"streaming.{d}.startstop_s"] = w - trig
    log_dir = os.environ["SPARK_GRAFT_EVENTLOG_DIR"]
    common.stop_spark(spark)
    run.spark = None
    groups = eventlog.read_groups(log_dir)
    op_ids = list(by_op)
    vals.update(common.spark_metrics(groups, op_ids))
    for op in op_ids:
        vals[f"query.{op.split('#')[0]}.jobs"] = groups.get(op, {}).get("jobs", 0)
    return vals
