"""Streaming-drain amortization probe (round-9 verdict #3).

The two perf-weak bench queries — stream_tumbling_agg and
stream_session_window — are defended by "the AvailableNow trigger
floor is fixed while the per-trigger work grows, so the drain-vs-
oracle ratio closes at scale". That claim was asserted, never
measured. This script measures it: at x1/x10/x50 key-shifted
replicas of sf0.1 (the same dirs scripts/scale_probe.py builds) it
times, per view:

- the certified PER-QUERY drain (the exact registry fn the driver
  certifies), both credited (events.credited_seconds, bench.py's
  standard accounting) and raw wall;
- the DuckDB oracle on the same replica dir (single-threaded batch
  reference);

and prints the credited/oracle and wall/oracle ratio at each scale.
"Done" per the verdict = ratio ≤ 2× by x10, or the measured floor
decomposition committed if not.

Optionally (DRAIN_ROCKSDB=1) re-times the drains under the RocksDB
state-store provider for an A/B of the addBatch-dominated profile.

Run AFTER the x-replicas exist (scripts/scale_probe.py builds them):
    python scripts/drain_scale_probe.py
    DRAIN_FACTORS="1 10" DRAIN_ROCKSDB=1 python scripts/drain_scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")

from master_airflow_spark import registry  # noqa: E402
from master_airflow_spark.session import get_spark  # noqa: E402
from master_airflow_spark.testing import duckdb_connection  # noqa: E402


# Round 13: stream_session_window is now the partial-spool drain
# (per-batch pre-sessionization, verdict #2); the state-store twin
# stays in the probe so every run reports the A/B at each scale.
VIEWS = (
    "stream_tumbling_agg",
    "stream_session_window",
    "stream_session_window_state",
)
# Views whose REGISTERED form is the stateless partial-spool drain —
# these touch no state store, so the provider sweep would emit
# duplicate timings under different labels (round-13 ADVICE). Kept as
# an explicit set NEXT TO VIEWS (round-14 review): whoever flips a
# view's registered implementation between state-store and
# partial-spool forms must move it here in the same change — the two
# declarations travel together, unlike the hardcoded name the probe
# loop previously buried.
PARTIAL_SPOOL_VIEWS = frozenset({"stream_session_window"})
FACTORS = [int(x) for x in os.environ.get("DRAIN_FACTORS", "1 10 50").split()]
OUT_ROOT = "/tmp/mas_scale"
ROCKSDB = os.environ.get("DRAIN_ROCKSDB") == "1"
# Shapes (round-11 update — the engine's SHIPPING default now batches
# every available file into one AvailableNow trigger, so the probe's
# plain run measures THAT, no longer the one-file-per-trigger arrival
# shape round 10 recorded):
#   default run            — shipping config: replicas keep one part
#                            file per copy, but the drain reads them
#                            all in one trigger (SCALE.md §round-11).
#   DRAIN_SINGLE_FILE=1    — control: events coalesced to ONE file, so
#                            the single-trigger claim is isolated from
#                            multi-file scan parallelism.
SINGLE_FILE = os.environ.get("DRAIN_SINGLE_FILE") == "1"
STAGE_ROOT = "/tmp/mas_scale_drain1"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _stage_single_file(spark, k: int) -> str:
    """Replica dir with events coalesced to a single part file (one
    trigger) and every other table symlinked from the base replica.
    A cached staging is reused only while the SOURCE replica is
    unchanged (round-10 ADVICE): a rebuilt x-replica invalidates the
    stage via a source-mtime marker, so the single-file amortization
    numbers never silently measure stale data."""
    import shutil

    from master_airflow_spark.catalog import TABLES, load_table, parquet_part_stats

    src = os.path.join(OUT_ROOT, f"x{k}")
    dst = os.path.join(STAGE_ROOT, f"x{k}")
    # Source identity = the shared part-stat walker over the events
    # table; other tables are symlinked (always follow the source).
    marker = os.path.join(dst, ".source_id")
    source_id = repr(parquet_part_stats(os.path.join(src, "events.parquet")))
    if os.path.isdir(dst):
        try:
            if open(marker).read() == source_id:
                return dst
        except OSError:
            pass
        shutil.rmtree(dst)  # stale, unmarked, or interrupted: restage

    os.makedirs(dst, exist_ok=True)
    load_table(spark, src, "events").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(dst, "events.parquet")
    )
    for t in TABLES:
        if t == "events":
            continue
        os.symlink(
            os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )
    # Marker is written LAST: an interrupted staging (no marker, or a
    # marker from a previous generation) is restaged from scratch on
    # the next run instead of being silently reused half-built.
    with open(marker, "w") as fh:
        fh.write(source_id)
    return dst


def drain_rep(spark, name: str, sf_dir: str) -> tuple[float, float]:
    """One rep of a registered drain query (fn() plus a noop write):
    (credited, wall), credited by events.credited_seconds exactly as
    bench.py's per-query reps are."""
    from master_airflow_spark.streaming import events as stream_events

    stream_events.reset_drain_trigger_seconds()
    t0 = time.perf_counter()
    df = registry.REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    registry.release_caches()
    return stream_events.credited_seconds(wall), wall


def main() -> None:
    spark = get_spark(app_name="mas-drain-scale")
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    provider_rows = [("hdfs-default", None)]
    if ROCKSDB:
        provider_rows.append(("rocksdb", _ROCKSDB_PROVIDER))

    print("| view | scale | provider | credited (s) | wall (s) | oracle (s) "
          "| credited/oracle | wall/oracle |")
    print("|---|---|---|---|---|---|---|---|")
    for k in FACTORS:
        sf_dir = os.path.join(OUT_ROOT, f"x{k}")
        if not os.path.isdir(sf_dir):
            print(f"x{k}: replica dir missing — run scripts/scale_probe.py first",
                  file=sys.stderr)
            continue
        if SINGLE_FILE:
            sf_dir = _stage_single_file(spark, k)
        con = duckdb_connection(sf_dir)
        try:
            for name in VIEWS:
                spec = registry.REGISTRY[name]
                print(f"x{k} {name}: oracle reps...", file=sys.stderr, flush=True)
                ora = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    con.execute(spec.oracle).fetchall()
                    ora.append(time.perf_counter() - t0)
                o = sorted(ora)[1]
                print(f"x{k} {name}: oracle {o:.2f}s; drains...",
                      file=sys.stderr, flush=True)
                # Partial-spool views are timed once, provider-
                # independent (see PARTIAL_SPOOL_VIEWS at the top).
                rows_for_view = (
                    [("provider-independent", None)]
                    if name in PARTIAL_SPOOL_VIEWS
                    else provider_rows
                )
                for label, provider in rows_for_view:
                    if provider is not None:
                        spark.conf.set(
                            "spark.sql.streaming.stateStore.providerClass", provider
                        )
                    try:
                        drain_rep(spark, name, sf_dir)  # warm
                        reps = [drain_rep(spark, name, sf_dir) for _ in range(3)]
                    finally:
                        if provider is not None:
                            spark.conf.unset(
                                "spark.sql.streaming.stateStore.providerClass"
                            )
                    cred = sorted(r[0] for r in reps)[1]
                    wall = sorted(r[1] for r in reps)[1]
                    print(
                        f"| {name} | x{k} | {label} | {cred:.3f} | {wall:.3f} "
                        f"| {o:.3f} | {cred / o:.2f}× | {wall / o:.2f}× |",
                        flush=True,
                    )
        finally:
            con.close()


if __name__ == "__main__":
    main()
