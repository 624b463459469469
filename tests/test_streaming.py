"""Multi-batch streaming semantics: watermark late-data drop, stateful
dedup expiry, batch-replay equivalence.

Files are staged into a tmp landing dir with increasing mtimes and
read with an explicit ``max_files=1``, so AvailableNow replays them as
ordered micro-batches — the scenario shape the single-snapshot DuckDB
oracle cannot express (SURVEY.md §5.3). (The SHIPPING default since
round 11 batches all available files per trigger; these tests pin
multi-batch state semantics, so they opt into the replay shape.)
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from master_airflow_spark.streaming.events import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    tumbling_agg,
)


def _stage(tmp_path, batches: list[list[tuple]]) -> str:
    """Write each batch as one parquet file with strictly increasing
    mtime (file-source ordering key)."""
    d = str(tmp_path / "landing")
    os.makedirs(d, exist_ok=True)
    t0 = time.time() - 1000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
        p = os.path.join(d, f"batch{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (t0 + i * 10, t0 + i * 10))
    return d


def test_watermark_drops_late_rows(spark, tmp_path):
    d = _stage(
        tmp_path,
        [
            # batch 0: window [10:00,11:00) gets one event; max ts 11:59
            # → watermark after this batch: 11:49
            [
                (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 11:59:00", 1, "click", 1.0, "{}"),
            ],
            # batch 1: filler only — [10:00,11:00) (end 11:00 ≤ wm
            # 11:49) finalizes and is emitted with n=1; wm → 12:20
            [(3, "2024-01-01 12:30:00", 1, "click", 1.0, "{}")],
            # batch 2: event for the already-finalized window → too
            # late (end 11:00 ≤ wm 12:20), dropped by the watermark
            [(4, "2024-01-01 10:30:00", 1, "click", 100.0, "{}")],
        ],
    )
    out = run_to_memory(
        tumbling_agg(read_events_stream(spark, d, max_files=1)), "append"
    )
    rows = {(str(r.window_start), r.n_events, r.sum_value) for r in out.collect()}
    # [10:00,11:00) finalized WITHOUT the late 100.0 event; [11:00,12:00)
    # finalized in batch 2 (end 12:00 ≤ wm 12:20); [12:00,13:00) still open
    assert rows == {
        ("2024-01-01 10:00:00", 1, 1.0),
        ("2024-01-01 11:00:00", 1, 1.0),
    }


def test_dedup_within_watermark_expires_state(spark, tmp_path):
    d = _stage(
        tmp_path,
        [
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 10:01:00", 9, "view", 1.0, "{}"),
            ],
            # duplicate within the 10-min horizon → dropped; filler
            # advances the watermark to 10:20
            [
                (3, "2024-01-01 10:02:00", 1, "click", 2.0, "{}"),
                (4, "2024-01-01 10:30:00", 9, "view", 1.0, "{}"),
            ],
            # filler batch: state for (1, click) (expiry 10:10 < wm
            # 10:20) is evicted at the end of this batch
            [(6, "2024-01-01 10:40:00", 9, "view", 1.0, "{}")],
            # key (1, click) reappears after expiry → re-emitted
            [(5, "2024-01-01 13:00:00", 1, "click", 3.0, "{}")],
        ],
    )
    out = run_to_memory(
        dedup_within_watermark(read_events_stream(spark, d, max_files=1)), "append"
    )
    clicks = sorted(
        r.event_id for r in out.where("user_id = 1 AND event_type = 'click'").collect()
    )
    assert clicks == [1, 5]  # 3 deduped; 5 survives after state expiry


def test_batch_replay_equivalence(spark, sf_dir):
    """Streaming result over static input == the same transformation
    applied as a plain batch query (unified API law)."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.streaming.events import landing_dir_for

    stream_out = run_to_memory(
        tumbling_agg(
            read_events_stream(
                spark, landing_dir_for(os.path.join(sf_dir, "events.parquet"))
            )
        ),
        "complete",
    )
    batch_out = tumbling_agg(load_table(spark, sf_dir, "events"))
    a = sorted(map(str, stream_out.collect()))
    b = sorted(map(str, batch_out.collect()))
    assert a == b


def test_interval_join_across_batches(spark, tmp_path):
    # click arrives in batch 0, its purchase in batch 1: the join's
    # click-side state must survive the trigger boundary and match
    # once the purchase lands; a purchase outside the 30-minute lag
    # window must not join
    from master_airflow_spark.streaming.events import attribution_join

    d = _stage(
        tmp_path,
        [
            [(1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}")],
            [
                (2, "2024-01-01 10:20:00", 7, "purchase", 5.0, "{}"),
                # 40 min after the click → outside max_lag
                (3, "2024-01-01 10:40:00", 7, "purchase", 9.0, "{}"),
            ],
        ],
    )
    out = run_to_memory(
        attribution_join(read_events_stream(spark, d, max_files=1)), "append"
    ).collect()
    pairs = {(r.click_id, r.purchase_id) for r in out}
    assert pairs == {(1, 2)}
    (row,) = [r for r in out if r.purchase_id == 2]
    assert row.lag_us == 20 * 60 * 1_000_000

def test_stream_static_enrich_across_batches(spark, tmp_path):
    # the static dimension is joined inside EVERY micro-batch: events
    # for the same segment arriving in different batches must land in
    # the same (window, segment) group with an aggregated sum
    from master_airflow_spark.streaming.events import enriched_segment_agg

    d = _stage(
        tmp_path,
        [
            [(1, "2024-01-01 10:05:00", 1, "click", 2.0, "{}"),
             (2, "2024-01-01 10:10:00", 2, "view", 3.0, "{}")],
            [(3, "2024-01-01 10:20:00", 1, "click", 5.0, "{}"),
             # user 99 has no dimension row → inner join drops it
             (4, "2024-01-01 10:25:00", 99, "click", 7.0, "{}")],
        ],
    )
    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], ["c_custkey", "c_mktsegment"]
    )
    out = run_to_memory(
        enriched_segment_agg(read_events_stream(spark, d, max_files=1), dim),
        "complete",
    ).collect()
    got = {(r.c_mktsegment, r.n_events, r.sum_value) for r in out}
    assert got == {("BUILDING", 2, 7.0), ("MACHINERY", 1, 3.0)}
    assert all(r.window_start.minute == 0 for r in out)


def test_ewma_state_continuity_across_batches(spark, tmp_path):
    """applyInPandasWithState carries (ewma, n) across micro-batches:
    the final state after two batches equals the single ordered fold
    over all events, and the update stream shows the intermediate
    state after batch 0."""
    from master_airflow_spark.streaming.events import ewma_per_user

    d = _stage(
        tmp_path,
        [
            [
                (1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
                (2, "2024-01-01 10:01:00", 7, "click", 2.0, "{}"),
            ],
            [
                (3, "2024-01-01 10:02:00", 7, "click", 3.0, "{}"),
                (4, "2024-01-01 10:00:00", 8, "click", 5.0, "{}"),
            ],
        ],
    )
    out = run_to_memory(
        ewma_per_user(read_events_stream(spark, d, max_files=1)), "update"
    )
    rows = {(r.user_id, r.n_events): r.ewma for r in out.collect()}
    # batch 0: user 7 folds 1.0 then 2.0 -> 0.5*2 + 0.5*1 = 1.5
    assert rows[(7, 2)] == 1.5
    # batch 1 continues FROM state 1.5: 0.5*3 + 0.5*1.5 = 2.25 — not a
    # refold of batch 1 alone (which would give 3.0)
    assert rows[(7, 3)] == 2.25
    assert rows[(8, 1)] == 5.0


def test_unique_users_rollup_across_batches(spark, tmp_path):
    """The exact-distinct recast (per-(window,user) streaming state +
    batch rollup over the drained snapshot) must stay exact when the
    SAME user arrives in different micro-batches: the stateful
    aggregate merges across triggers, so the rollup still counts each
    (window, user) once."""
    from pyspark.sql import functions as F

    d = _stage(
        tmp_path,
        [
            # batch 0: users 1,2 in hour 10; user 1 twice
            [
                (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 10:10:00", 1, "click", 1.0, "{}"),
                (3, "2024-01-01 10:15:00", 2, "click", 1.0, "{}"),
            ],
            # batch 1: user 1 AGAIN in hour 10 (state merge, not a new
            # distinct), user 3 new in hour 10, user 1 in hour 11
            [
                (4, "2024-01-01 10:20:00", 1, "view", 1.0, "{}"),
                (5, "2024-01-01 10:25:00", 3, "view", 1.0, "{}"),
                (6, "2024-01-01 11:05:00", 1, "view", 1.0, "{}"),
            ],
        ],
    )
    per_user = (
        read_events_stream(spark, d, max_files=1)
        .where(F.col("user_id").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    drained = run_to_memory(per_user, "complete")
    got = {
        str(r.window_start): r.n_users
        for r in drained.groupBy(F.col("w.start").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .collect()
    }
    assert got == {"2024-01-01 10:00:00": 3, "2024-01-01 11:00:00": 1}


def test_dedup_within_watermark_full_value_oracle(spark, tmp_path):
    """Full-DATAFRAME value oracle for stream_dedup_watermark (r8
    verdict #5 — it was the only judged query with neither a DuckDB
    oracle nor an exact local expected set). On a bounded ordered
    replay the semantics are computable exactly: keyed FIRST arrival
    survives with its complete payload; a duplicate arriving within
    the horizon of the first is dropped; a key reappearing after its
    state expired re-emits. The fixture keeps ≤1 row per key per
    micro-batch and separates expiry from re-appearance with a filler
    batch, so the expected set is deterministic regardless of
    intra-batch partition order or whether eviction lands at the start
    or end of the batch that learns the advancing watermark."""
    d = _stage(
        tmp_path,
        [
            [
                (1, "2024-01-01 10:00:00", 1, "click", 1.5, '{"a":1}'),
                (2, "2024-01-01 10:00:30", 2, "view", 2.5, '{"b":2}'),
            ],
            # 3: duplicate key (u1, click) within the 10-min horizon —
            # dropped, and its DIFFERENT payload must not leak through;
            # 4 advances the watermark to 10:20
            [
                (3, "2024-01-01 10:05:00", 1, "click", 99.0, '{"x":9}'),
                (4, "2024-01-01 10:30:00", 3, "view", 3.5, '{"c":3}'),
            ],
            # filler: u1 (expiry 10:10) and u2 (expiry 10:10:30) are
            # both evicted under watermark 10:20 during/after this batch
            [(5, "2024-01-01 10:40:00", 9, "view", 4.5, '{"d":4}')],
            # both expired keys reappear → re-emitted with new payloads
            [
                (6, "2024-01-01 10:45:00", 1, "click", 5.5, '{"e":5}'),
                (7, "2024-01-01 10:46:00", 2, "view", 6.5, '{"f":6}'),
            ],
        ],
    )
    out = run_to_memory(
        dedup_within_watermark(read_events_stream(spark, d, max_files=1)), "append"
    )
    got = {
        (r.event_id, str(r.ts), r.user_id, r.event_type, r.value, r.props)
        for r in out.collect()
    }
    want = {
        (1, "2024-01-01 10:00:00", 1, "click", 1.5, '{"a":1}'),
        (2, "2024-01-01 10:00:30", 2, "view", 2.5, '{"b":2}'),
        (4, "2024-01-01 10:30:00", 3, "view", 3.5, '{"c":3}'),
        (5, "2024-01-01 10:40:00", 9, "view", 4.5, '{"d":4}'),
        (6, "2024-01-01 10:45:00", 1, "click", 5.5, '{"e":5}'),
        (7, "2024-01-01 10:46:00", 2, "view", 6.5, '{"f":6}'),
    }
    assert got == want


def test_max_files_per_trigger_knob_preserves_results(spark, tmp_path):
    """File batching (the max_files argument / the round-11 batch-all
    default) must only change batch BOUNDARIES, never answers: on a
    time-split landing (watermark-compatible arrival — the
    deterministic replay domain), draining the tumbling aggregate
    one-file-per-trigger, 1000-files-per-trigger, and under the
    shipping default (max_files unset → all available files in one
    trigger) must produce the identical row set, and all must equal
    the batch aggregate over the same data."""
    from master_airflow_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = ev.orderBy("ts").collect()
    third = max(1, len(rows) // 3)
    batches = [
        [tuple(r[c] for c in ("event_id", "ts", "user_id", "event_type", "value", "props"))
         for r in rows[i : i + third]]
        for i in range(0, len(rows), third)
    ]
    d = _stage(tmp_path, batches)

    def drain(max_files: int | None):
        stream = read_events_stream(spark, d, max_files=max_files)
        out = run_to_memory(tumbling_agg(stream), "complete")
        return {tuple(r) for r in out.collect()}

    one_per_file = drain(1)
    one_trigger = drain(1000)
    default_shape = drain(None)
    assert one_per_file == one_trigger and len(one_trigger) > 0
    assert default_shape == one_trigger
    batch_ev = spark.read.parquet(d)
    # same ts normalization rule as read_events_stream: the staged
    # pandas parquet carries ns timestamps, surfaced as bigint under
    # the session's nanosAsLong default
    if dict(batch_ev.dtypes)["ts"] == "bigint":
        batch_ev = batch_ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        batch_ev = batch_ev.withColumn("ts", F.col("ts").cast("timestamp"))
    want = {tuple(r) for r in tumbling_agg(batch_ev).collect()}
    assert one_trigger == want


def test_landing_dir_reconciles_regenerated_source(spark, tmp_path):
    """landing_dir_for is content-addressed by source PATH; when the
    source table directory is REGENERATED (Spark overwrite writes new
    unique part names), the cached landing dir must drop links to
    deleted parts and must not replay superseded data alongside fresh
    data (round-10 ADVICE, medium)."""
    from master_airflow_spark.streaming.events import landing_dir_for

    src = tmp_path / "regen_table"
    gen1 = spark.range(3).withColumnRenamed("id", "v")
    gen1.coalesce(1).write.mode("overwrite").parquet(str(src))
    d = landing_dir_for(str(src))
    first_links = sorted(os.listdir(d))
    assert first_links, "landing dir should hold the gen-1 part link"

    # regenerate: different row count, new unique part file names
    gen2 = spark.range(10).withColumnRenamed("id", "v")
    gen2.coalesce(2).write.mode("overwrite").parquet(str(src))
    d2 = landing_dir_for(str(src))
    assert d2 == d  # same content address (same source path)
    links = sorted(os.listdir(d))
    # every link resolves, targets are exactly the current source parts
    targets = {os.readlink(os.path.join(d, n)) for n in links}
    want = {
        os.path.join(str(src), n)
        for n in os.listdir(src)
        if n.endswith(".parquet")
    }
    assert targets == want
    for n in links:
        assert os.path.exists(os.path.join(d, n)), f"dangling link {n}"
    # and the replayed data is exactly generation 2
    assert spark.read.parquet(d).count() == 10


def test_session_drain_rocksdb_provider_equal(spark, sf_dir):
    """The 100 TB session-drain deployment swaps the state store to
    RocksDB when live-session state outgrows executor heap (the local
    x50 A/B in SCALE.md round 12 shows it is NOT a throughput win when
    state fits in memory — 1.9x slower — but it is the survival config
    when state does not). This pins that the swap is semantics-free:
    the certified session query returns identical rows under either
    provider."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    # the STATE-STORE form — the registered stream_session_window is
    # the partial-spool drain since r13 and touches no state store
    fn = registry.REGISTRY["stream_session_window_state"].fn

    def rows():
        out = sorted(map(tuple, fn(spark, sf_dir).collect()))
        registry.release_caches()
        return out

    base = rows()
    assert base, "session drain returned no rows"
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = rows()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocks == base


def test_failed_drain_restores_session_lock_and_checkpoint(spark, tmp_path):
    """A drain whose query fails on every row leaves the session as it
    found it: the drain confs read as before, the drain lock is free
    and the checkpoint is gone."""
    from master_airflow_spark.streaming import events

    confs = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.streaming.numRecentProgressUpdates",
    )
    d = _stage(tmp_path, [[(1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}")]])
    failing = read_events_stream(spark, d, max_files=1).withColumn(
        "event_type", F.raise_error(F.lit("drain-harness-boom")).cast("string")
    )
    before = {k: spark.conf.get(k) for k in confs}
    with pytest.raises(StreamingQueryException, match="drain-harness-boom"):
        run_to_memory(
            tumbling_agg(failing), "complete", name="harness_fail", state_partitions=2
        )
    assert {k: spark.conf.get(k) for k in confs} == before
    assert not events._DRAIN_LOCK.locked()
    ckpt = os.path.join(events._checkpoint_root(), "mas_ckpt", "harness_fail")
    assert not os.path.exists(ckpt)


def test_drain_accumulators_and_credit(spark, sf_dir):
    """Both drain forms feed the same accumulators: trigger time is
    positive and inside the drain wall, and the credited time never
    exceeds the measured wall. With nothing drained, no credit."""
    from master_airflow_spark import registry
    from master_airflow_spark.streaming import events
    from master_airflow_spark.streaming.shared_drain import drain_events_multi

    events.reset_drain_trigger_seconds()
    assert events.credited_seconds(1.5) == 1.5

    def check(drain) -> None:
        events.reset_drain_trigger_seconds()
        t0 = time.perf_counter()
        drain()
        wall = time.perf_counter() - t0
        registry.release_caches()
        assert 0 < events.drain_trigger_seconds() <= events.drain_wall_seconds()
        assert events.credited_seconds(wall) <= wall

    landing = events.landing_dir_for(os.path.join(sf_dir, "events.parquet"))
    check(
        lambda: run_to_memory(
            tumbling_agg(read_events_stream(spark, landing)),
            "complete",
            state_partitions=2,
        ).count()
    )
    check(lambda: drain_events_multi(spark, sf_dir))


def test_drain_trigger_seconds_counts_every_trigger(spark, sf_dir, tmp_path):
    """The drain's trigger total is summed from the finished query's
    recentProgress, whose history keeps only numRecentProgressUpdates
    triggers. With the session cap set below the trigger count, both
    drain forms must still count every trigger: their total equals a
    test-local listener's, which sees each progress event as it is
    posted (the cap raise inside events._drain is what keeps it so)."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from master_airflow_spark import registry
    from master_airflow_spark.streaming import events
    from master_airflow_spark.streaming.shared_drain import drain_events_multi

    class Reference(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.trigger_ms: dict[str, list[int]] = {}
            self.terminated: set[str] = set()

        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.trigger_ms.setdefault(str(event.runId), [])

        def onQueryProgress(self, event) -> None:
            p = event.progress
            with self.lock:
                self.trigger_ms.setdefault(str(p.runId), []).append(
                    (p.durationMs or {}).get("triggerExecution", 0)
                )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated.add(str(event.runId))

        def triggers_since(self, before: set[str]) -> list[int]:
            """Trigger ms of the runs started since ``before``, once the
            bus has delivered each run's termination event (a run's
            progress events precede it)."""
            deadline = time.perf_counter() + 30.0
            while time.perf_counter() < deadline:
                with self.lock:
                    runs = set(self.trigger_ms) - before
                    if runs and runs <= self.terminated:
                        return [ms for r in runs for ms in self.trigger_ms[r]]
                time.sleep(0.02)
            raise AssertionError("no termination event within 30 s")

    n_files = 3
    d = _stage(
        tmp_path,
        [
            [(i, f"2024-01-01 0{i}:00:00", 1, "click", float(i), "{}")]
            for i in range(n_files)
        ],
    )
    cap_key = "spark.sql.streaming.numRecentProgressUpdates"
    cap = n_files - 1
    prev_cap = spark.conf.get(cap_key)
    ref = Reference()
    spark.streams.addListener(ref)
    try:
        spark.conf.set(cap_key, str(cap))
        drains = {
            "run_to_memory": lambda: run_to_memory(
                tumbling_agg(read_events_stream(spark, d, max_files=1)),
                "complete",
                state_partitions=2,
            ).count(),
            "drain_events_multi": lambda: drain_events_multi(
                spark, sf_dir, events_dir=d, max_files=1
            ),
        }
        for form, drain in drains.items():
            before = set(ref.trigger_ms)
            events.reset_drain_trigger_seconds()
            drain()
            registry.release_caches()
            trigger_ms = ref.triggers_since(before)
            assert len(trigger_ms) > cap, form
            assert events.drain_trigger_seconds() == sum(trigger_ms) / 1000.0, form
    finally:
        spark.streams.removeListener(ref)
        spark.conf.set(cap_key, prev_cap)
