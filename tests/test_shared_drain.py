"""Shared-scan multi-view drain (streaming/shared_drain.py): the
bench's production-shaped drain must be value-identical to the
independently-certified per-query streaming drains AND to the batch
aggregates — including when the landing dir holds several files, so
partials from multiple micro-batches flow through the merge step
(tumbling per-key sums; session gaps-and-islands interval merge)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from master_airflow_spark.streaming.shared_drain import drain_events_multi

VIEW_NAMES = ("stream_tumbling_agg", "stream_session_window")


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_shared_drain_equals_per_query_drains(spark, sf_dir):
    """Single-file landing dir (one micro-batch): both views equal the
    certified per-query STATE-STORE streaming results row-for-row,
    bit-for-bit. Since round 13 the registered stream_session_window
    is itself the partial-spool drain, so the session comparison runs
    against the state-store twin (stream_session_window_state) — the
    independent code path this test exists to pin."""
    from master_airflow_spark import registry
    from master_airflow_spark.streaming import events

    registry._ensure_loaded()
    timings: dict = {}
    events.reset_drain_trigger_seconds()
    shared = drain_events_multi(spark, sf_dir, VIEW_NAMES, timings=timings)
    pass_wall, trigger = events.drain_wall_seconds(), events.drain_trigger_seconds()
    got = {v: _rows(shared[v]) for v in VIEW_NAMES}
    registry.release_caches()

    state_form = {"stream_session_window": "stream_session_window_state"}
    for v in VIEW_NAMES:
        want = _rows(registry.REGISTRY[state_form.get(v, v)].fn(spark, sf_dir))
        registry.release_caches()
        assert got[v] == want, f"{v}: shared drain diverges from per-query drain"

    # Accounting surface: per-view handler seconds, and the pass wall
    # and trigger total in the events accumulators, must all be present
    # and sane.
    assert set(timings["views"]) == set(VIEW_NAMES)
    assert pass_wall > 0
    assert 0 < trigger <= pass_wall


def test_shared_drain_multibatch_merge(spark, sf_dir, tmp_path):
    """Multi-file landing dir → one micro-batch per file
    (maxFilesPerTrigger=1): cross-batch partials must merge to exactly
    the batch aggregate. Files are split by EVENT hash (not by time or
    user), so one user's events — and therefore single sessions — span
    several micro-batches and the interval merge has real work to do."""
    from master_airflow_spark import registry
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.streaming.events import session_agg, tumbling_agg

    ev = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_split"
    (
        ev.withColumn("part", F.pmod(F.col("event_id"), F.lit(3)))
        .repartition(3, "part")
        .drop("part")
        .write.mode("overwrite")
        .parquet(str(src))
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    n_files = 0
    for name in os.listdir(src):
        if name.endswith(".parquet"):
            os.link(str(src / name), str(landing / name))
            n_files += 1
    assert n_files >= 2, "split produced a single file; test needs several"

    shared = drain_events_multi(
        spark, sf_dir, VIEW_NAMES, events_dir=str(landing), max_files=1
    )
    got = {v: _rows(shared[v]) for v in VIEW_NAMES}
    registry.release_caches()

    assert got["stream_tumbling_agg"] == _rows(tumbling_agg(ev))
    assert got["stream_session_window"] == _rows(session_agg(ev))



def test_multibatch_equals_per_query_drains_time_split(spark, sf_dir, tmp_path):
    """Multi-batch equality against the per-query STREAMING drains
    (round-8 ADVICE: the batch equality above alone wouldn't catch a
    divergence the state-store path and the partial-merge path share
    against batch but not against each other). The landing dir is
    split into three CONTIGUOUS TIME RANGES — the real landing-zone
    arrival shape, and the domain where the state-store path is
    deterministic: Spark's watermark contract says input rows older
    than the watermark MAY be dropped by a stateful operator (any
    outcome is legal — observed both ways on this box for a
    hash-split replay whose every batch spans the full time range),
    while the shared drain's stateless batch partials never drop
    anything. Time-ordered files keep every arrival at-or-above the
    watermark, so equality is well-defined — and sessions straddling
    the cut points still force real cross-batch interval merges."""
    from master_airflow_spark import registry
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        session_agg,
        tumbling_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    cuts = [lo + span, lo + 2 * span]
    landing = tmp_path / "landing_time_split"
    landing.mkdir()
    parts = [
        ev.where(F.col("ts") < F.lit(cuts[0])),
        ev.where((F.col("ts") >= F.lit(cuts[0])) & (F.col("ts") < F.lit(cuts[1]))),
        ev.where(F.col("ts") >= F.lit(cuts[1])),
    ]
    import time as _time

    t0 = _time.time() - 1000
    for i, p in enumerate(parts):
        d = tmp_path / f"slice{i}"
        p.coalesce(1).write.parquet(str(d))
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                dst = str(landing / f"slice{i}_{name}")
                os.link(str(d / name), dst)
                os.utime(dst, (t0 + i * 10, t0 + i * 10))

    shared = drain_events_multi(
        spark, sf_dir, VIEW_NAMES, events_dir=str(landing), max_files=1
    )
    got = {v: _rows(shared[v]) for v in VIEW_NAMES}
    registry.release_caches()

    pq_tumbling = _rows(
        run_to_memory(
            tumbling_agg(read_events_stream(spark, str(landing), max_files=1)),
            "complete",
            state_partitions=2,
        )
    )
    pq_sessions = _rows(
        run_to_memory(
            session_agg(read_events_stream(spark, str(landing), max_files=1)),
            "complete",
            state_partitions=8,
        )
    )
    registry.release_caches()
    assert got["stream_tumbling_agg"] == pq_tumbling
    assert got["stream_session_window"] == pq_sessions


def test_cross_batch_exact_gap_boundary(spark, tmp_path):
    """Sessions split ACROSS micro-batch files with inter-event gaps
    exactly AT, just under, and just over the session gap (5 min):
    the interval merge's closure must agree with the per-query
    session_window drain processing the same two files — inclusive at
    the boundary (this test CAUGHT the round-8 strict-< rule
    diverging from session_window and drove the round-9 fix).
    user 1: 10:00 (file A) then 10:05:00 (file B) — exactly gap ⇒
    ONE session. user 2: 10:00 (A) then 10:04:59 (B) — merges.
    user 3: 10:00 (A) then 10:05:01 (B) — two sessions."""
    from master_airflow_spark import registry
    from master_airflow_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        session_agg,
    )

    def ev_rows(spec):
        return spark.createDataFrame(
            [
                (eid, uid, "click", ts, 1.0)
                for eid, uid, ts in spec
            ],
            "event_id long, user_id long, event_type string,"
            " ts string, value double",
        ).select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )

    file_a = ev_rows(
        [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 2, "2024-01-01 10:00:00"),
            (3, 3, "2024-01-01 10:00:00"),
        ]
    )
    file_b = ev_rows(
        [
            (4, 1, "2024-01-01 10:05:00"),  # exactly gap ⇒ merges
            (5, 2, "2024-01-01 10:04:59"),  # < gap ⇒ merges
            (6, 3, "2024-01-01 10:05:01"),  # > gap ⇒ new session
        ]
    )
    landing = tmp_path / "boundary_landing"
    landing.mkdir()
    file_a.coalesce(1).write.parquet(str(tmp_path / "a"))
    file_b.coalesce(1).write.parquet(str(tmp_path / "b"))
    for src in ("a", "b"):
        for name in os.listdir(tmp_path / src):
            if name.endswith(".parquet"):
                os.link(
                    str(tmp_path / src / name), str(landing / f"{src}_{name}")
                )

    shared = drain_events_multi(
        spark, "", ("stream_session_window",), events_dir=str(landing), max_files=1
    )
    got = _rows(shared["stream_session_window"])
    registry.release_caches()
    want = _rows(
        run_to_memory(
            session_agg(read_events_stream(spark, str(landing), max_files=1)),
            "complete",
            state_partitions=8,
        )
    )
    registry.release_caches()
    assert got == want
    n_sessions_per_user = {}
    for _, _, uid, _, _ in got:
        n_sessions_per_user[uid] = n_sessions_per_user.get(uid, 0) + 1
    assert n_sessions_per_user == {1: 1, 2: 1, 3: 2}


def test_session_interval_merge_nested_and_adjacent(spark):
    """Targeted laws of the gaps-and-islands merge the multi-batch path
    relies on: (a) an interval nested inside an earlier one merges via
    the running-max (lag alone would split); (b) a session starting
    exactly `gap` after the previous last event DOES merge —
    session_window's closure is INCLUSIVE (empirically: two events
    exactly gap apart chain into one window; round-9 fix, the merge
    previously used the strict-< rule); (c) one starting gap+1s after
    does NOT merge."""
    from master_airflow_spark.streaming.shared_drain import _merge_sessions

    rows = [
        # user 1: [10:00, 10:20] then nested [10:05, 10:10] then
        # exactly-at-gap 10:25 (= 10:20 + 5min ⇒ MERGES, inclusive
        # closure) — ONE session ending 10:25 + 5min.
        (1, "2024-01-01 10:00:00", "2024-01-01 10:20:00", 5, 500),
        (1, "2024-01-01 10:05:00", "2024-01-01 10:10:00", 2, 200),
        (1, "2024-01-01 10:25:00", "2024-01-01 10:25:00", 1, 100),
        # user 2: [10:00, 10:10] then 10:15:01 (> gap past last) —
        # stays TWO sessions.
        (2, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 3, 300),
        (2, "2024-01-01 10:15:01", "2024-01-01 10:15:01", 1, 100),
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, start_ts string, last_ts string,"
        " n_events long, sum_scaled long",
    ).select(
        "user_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("last_ts").cast("timestamp").alias("last_ts"),
        "n_events",
        "sum_scaled",
    )
    out = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"])): (
            r["n_events"],
            r["sum_value"],
        )
        for r in _merge_sessions(df).collect()
    }
    assert out == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:30:00"): (8, 0.08),
        (2, "2024-01-01 10:00:00", "2024-01-01 10:15:00"): (3, 0.03),
        (2, "2024-01-01 10:15:01", "2024-01-01 10:20:01"): (1, 0.01),
    }


def test_view_schemas_match_per_query_drain_schemas(spark, sf_dir):
    """Direct unit test of the zero-batch branch's construction
    (round-8 ADVICE: the empty-landing test below actually fires ONE
    empty micro-batch, so a typo in VIEW_SCHEMAS would ship green):
    an empty frame built from each VIEW_SCHEMAS entry must carry
    exactly the certified per-query drain's schema."""
    from master_airflow_spark import registry
    from master_airflow_spark.streaming.shared_drain import VIEW_SCHEMAS

    registry._ensure_loaded()
    for v in VIEW_NAMES:
        branch_df = spark.createDataFrame([], VIEW_SCHEMAS[v])
        want = registry.REGISTRY[v].fn(spark, sf_dir).schema
        registry.release_caches()
        got = branch_df.schema
        assert [(f.name, f.dataType) for f in got] == [
            (f.name, f.dataType) for f in want
        ], f"{v}: VIEW_SCHEMAS drifted from the per-query drain schema"


def test_shared_drain_empty_single_batch_returns_empty_views(spark, tmp_path):
    """A landing dir holding one zero-row marker file fires ONE empty
    micro-batch (the file source triggers on the file, not its rows):
    the single-batch projection path must produce empty, correctly
    shaped views. (The literal zero-trigger branch is covered
    schema-for-schema by test_view_schemas_match_per_query_drain_
    schemas above — an empty dir without a marker cannot even
    schema-probe the stream.)"""
    landing = tmp_path / "empty_landing"
    landing.mkdir()
    # The streaming source needs a schema; read_events_stream probes a
    # batch read first, which cannot infer from an empty dir — stage a
    # schema-only parquet marker the way a real landing zone's ingest
    # would (zero-row file written once at provisioning).
    from master_airflow_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.limit(0).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "marker"))
    import os, shutil

    for f in os.listdir(tmp_path / "marker"):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "marker" / f), str(landing / f))
            break

    shared = drain_events_multi(
        spark, "/root/testdata/sf0.001", VIEW_NAMES, events_dir=str(landing)
    )
    for v in VIEW_NAMES:
        assert shared[v].count() == 0
        assert len(shared[v].columns) == 5


def test_session_oracle_matches_spark_on_exact_boundary(spark, tmp_path):
    """The round-9 oracle fix (new session at delta > gap, not >=)
    diffed against Spark END-TO-END on data that actually HITS the
    boundary: the sf tables' microsecond timestamps never land exactly
    gap apart, so driver certification can't distinguish the two
    rules — this fixture can. Runs the registered stream_session_window
    fn AND its registered DuckDB oracle on the same parquet dir."""
    import duckdb

    from master_airflow_spark import registry

    registry._ensure_loaded()
    import pandas as pd

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 1, "click", 2.0, "{}"),  # exactly gap
        (3, "2024-01-01 10:00:00", 2, "view", 3.0, "{}"),
        (4, "2024-01-01 10:05:01", 2, "view", 4.0, "{}"),  # gap + 1s
        (5, "2024-01-01 10:00:00", 3, "view", 5.0, "{}"),
        (6, "2024-01-01 10:04:59", 3, "view", 6.0, "{}"),  # gap - 1s
    ]
    sfd = tmp_path / "boundary_oracle_sf"
    sfd.mkdir()
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
    # single parquet FILE, the testdata events convention (the stream
    # landing-dir machinery symlinks the file, it does not recurse)
    pdf.to_parquet(str(sfd / "events.parquet"))

    spec = registry.REGISTRY["stream_session_window"]
    got = sorted(
        (str(r["session_start"]), str(r["session_end"]), r["user_id"],
         r["n_events"], r["sum_value"])
        for r in spec.fn(spark, str(sfd)).collect()
    )
    registry.release_caches()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sfd}/events.parquet')"
    )
    want = sorted(
        (str(r[0]), str(r[1]), r[2], r[3], r[4])
        for r in con.execute(spec.oracle).fetchall()
    )
    assert got == want
    # and the boundary semantics themselves: u1 merged, u2 split, u3 merged
    per_user = {}
    for _, _, uid, _, _ in got:
        per_user[uid] = per_user.get(uid, 0) + 1
    assert per_user == {1: 1, 2: 2, 3: 1}


def test_below_watermark_divergence_direction(spark, tmp_path):
    """Adversarial OUT-OF-ORDER landing with a genuinely below-
    watermark arrival (round-13 verdict #3): the module docstrings
    claim the partial-spool drain is strictly MORE complete than the
    state-store operator under out-of-order replay — this pins the
    claimed DIRECTION instead of only time-ordered equality.

    Fixture (user 1, 5-min gap, 10-min watermark delay):
      batch A: 10:00:00 and 11:00:00  → watermark after A = 10:50
      batch B: 10:20:00 (BELOW the 10:50 watermark) and 11:03:00
    Full sessionization = three sessions ({10:00}, {10:20},
    {11:00, 11:03}); if the state-store operator drops the late row
    the on-time sessionization = two sessions.

    Pinned:
      1. the partial-spool drain returns the FULL three-session result
         — the stateless batch partials never drop a row, whatever the
         arrival order;
      2. the state-store drain returns either the full result (keeping
         the late row is legal) or exactly the on-time result (the
         watermark contract allows the drop) — never anything else;
      3. completeness is one-directional: every event the state-store
         result covers is covered by the spool result (spool ⊇ state),
         and the two agree exactly on the on-time subset."""
    from datetime import datetime

    from master_airflow_spark import registry
    from master_airflow_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        session_agg,
    )

    def ev_rows(spec):
        return spark.createDataFrame(
            [(eid, 1, "click", ts, 1.0) for eid, ts in spec],
            "event_id long, user_id long, event_type string,"
            " ts string, value double",
        ).select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )

    file_a = ev_rows([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00")])
    file_b = ev_rows([(3, "2024-01-01 10:20:00"), (4, "2024-01-01 11:03:00")])
    landing = tmp_path / "late_landing"
    landing.mkdir()
    file_a.coalesce(1).write.parquet(str(tmp_path / "a"))
    file_b.coalesce(1).write.parquet(str(tmp_path / "b"))
    import time as _time

    t0 = _time.time() - 1000
    for i, src in enumerate(("a", "b")):
        for name in os.listdir(tmp_path / src):
            if name.endswith(".parquet"):
                dst = str(landing / f"{src}_{name}")
                os.link(str(tmp_path / src / name), dst)
                os.utime(dst, (t0 + i * 10, t0 + i * 10))

    def sess(start, end, n):
        return (
            datetime.fromisoformat(f"2024-01-01 {start}"),
            datetime.fromisoformat(f"2024-01-01 {end}"),
            1,
            n,
            float(n),
        )

    full = sorted(
        [sess("10:00:00", "10:05:00", 1), sess("10:20:00", "10:25:00", 1),
         sess("11:00:00", "11:08:00", 2)],
        key=lambda t: tuple(str(x) for x in t),
    )
    on_time = sorted(
        [sess("10:00:00", "10:05:00", 1), sess("11:00:00", "11:08:00", 2)],
        key=lambda t: tuple(str(x) for x in t),
    )

    shared = drain_events_multi(
        spark, "", ("stream_session_window",), events_dir=str(landing), max_files=1
    )
    spool = _rows(shared["stream_session_window"])
    registry.release_caches()
    state = _rows(
        run_to_memory(
            session_agg(read_events_stream(spark, str(landing), max_files=1)),
            "complete",
            state_partitions=8,
        )
    )
    registry.release_caches()

    assert spool == full  # (1) the spool never drops the late row
    assert state in (full, on_time)  # (2) both outcomes legal, nothing else
    # (3) spool ⊇ state on event coverage, equal on the on-time subset
    assert sum(r[3] for r in state) <= sum(r[3] for r in spool)
    assert [r for r in spool if r in on_time] == on_time


def test_failed_shared_drain_releases_its_scratch_root(spark, sf_dir, monkeypatch):
    """A shared drain whose view partial raises leaves no spool or
    checkpoint root behind once the caches are released."""
    from master_airflow_spark import registry
    from master_airflow_spark.streaming import shared_drain
    from master_airflow_spark.streaming.events import _checkpoint_root

    def boom(batch):
        raise RuntimeError("view-partial-boom")

    _, merge, project = shared_drain.VIEWS["stream_tumbling_agg"]
    monkeypatch.setitem(
        shared_drain.VIEWS, "stream_tumbling_agg", (boom, merge, project)
    )
    base = os.path.join(_checkpoint_root(), "mas_shared_drain")

    def run_dirs() -> set[str]:
        return set(os.listdir(base)) if os.path.isdir(base) else set()

    before = run_dirs()
    with pytest.raises(StreamingQueryException, match="view-partial-boom"):
        drain_events_multi(spark, sf_dir, VIEW_NAMES)
    registry.release_caches()
    assert run_dirs() - before == set()


def test_spool_read_launches_no_job(spark, sf_dir, monkeypatch):
    """Reading the view spools back is analysis only: the handler's
    partials fix each spool's schema, so no schema-inference job runs
    after the drain. Every DataFrameReader.parquet call inside one
    drain_events_multi runs in its own job group, and the status
    tracker must report no job in that group."""
    from pyspark.sql.readwriter import DataFrameReader

    from master_airflow_spark import registry
    from master_airflow_spark.catalog import parquet_schema
    from master_airflow_spark.streaming.events import landing_dir_for

    # The events stream's ts type comes from the schema cache; warm it
    # so the group sees only the spool reads.
    parquet_schema(spark, landing_dir_for(os.path.join(sf_dir, "events.parquet")))
    sc = spark.sparkContext
    group = "spool-read-probe"
    keys = ("spark.jobGroup.id", "spark.job.description")
    real = DataFrameReader.parquet
    calls = []

    def in_group(self, *paths, **options):
        calls.append(paths)
        prev = [sc.getLocalProperty(k) for k in keys]
        sc.setJobGroup(group, "DataFrameReader.parquet")
        try:
            return real(self, *paths, **options)
        finally:
            for k, v in zip(keys, prev):
                sc.setLocalProperty(k, v)

    monkeypatch.setattr(DataFrameReader, "parquet", in_group)
    out = drain_events_multi(spark, sf_dir, VIEW_NAMES)
    monkeypatch.undo()
    try:
        assert len(calls) == len(VIEW_NAMES)  # one spool read per view
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert all(out[v].count() > 0 for v in VIEW_NAMES)
    finally:
        registry.release_caches()
