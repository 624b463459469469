"""SparkSession factory.

One session for the whole engine, configured for the execution posture
described in SURVEY.md §4.2/§6: adaptive query execution on (runtime
re-planning, skew-join handling, partition coalescing), Arrow for any
pandas interchange, UTC session timezone so timestamp semantics match
the DuckDB oracle, and a shuffle-partition count sized for the local
test harness (overridable for real clusters via ``extra_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "master-airflow-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target local mode; on a real cluster pass ``master=None``
    with spark-submit owning the master and sizing, and raise
    ``spark.sql.shuffle.partitions`` to ~2-3× total cores via
    ``extra_conf`` (AQE coalesces the excess at runtime).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # AQE advisory exchange sizing (round-8 verdict #4): start
        # every shuffle at 8× the thread count and let AQE coalesce
        # down by data volume (parallelismFirst keeps small-SF
        # shuffles at ~defaultParallelism, so sf0.1 plans are
        # unchanged — measured neutral at sf0.1/x10), while large
        # inputs keep up to 256 reduce partitions instead of paging
        # 32 oversized ones. Measured on the q7 fact-fact shuffle at
        # x50: 6.3s → 5.0s and the x10→x50 marginal rate drops from
        # ~linear to 2.4× over 5× rows. On a real cluster this scales
        # with SPARK_GRAFT_CPUS (set it to total executor cores).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE sort-merge → shuffled-hash rewrite (round-15, guide §3.1):
        # skip both sort passes of a shuffle join whenever EVERY
        # build-side partition is under 2× the 64m advisory size. The
        # bound is on COMPRESSED shuffle bytes per partition; the
        # deserialized build-side HashedRelation can be several times
        # larger and does not fall back to sort-merge at runtime, and
        # each concurrently-running task holds its own relation — so
        # budget roughly (cores per executor) × (a few × 128m) of heap
        # headroom per executor, or drop this toward the 64m advisory
        # size on memory-tight clusters. A partition OVER the bound
        # keeps sort-merge, which spills gracefully; skew-split still
        # applies. Measured
        # x50 interleaved conf A/B, 0 vs 128m: q3 −16%, q21 −27% med,
        # q7 −21% med, q8 −7%; q5/q9/q18/tfidf/training/minhash/jaccard
        # neutral; no regressions. No-op at bench sf0.1 (every join
        # there already broadcasts).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "134217728",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: vectorized reader + pushdown are on by default;
        # keep files from over-splitting at small SF, still fine at 100 TB
        # where maxPartitionBytes (128m default) governs split size.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Session windows: merge sessions inside each input partition
        # BEFORE the state-store shuffle (the session-window form of
        # map-side partial aggregation — off by default). Execution
        # strategy only, results identical; measured -17% per-trigger
        # cost on the sf0.1 drain and it is the right shape at scale:
        # the state exchange carries pre-merged sessions, not raw rows.
        .config(
            "spark.sql.streaming.sessionWindow.merge.sessionsInLocalPartition",
            "true",
        )
        # Parquet TIMESTAMP(NANOS) columns arrive as timestamp_ntz on
        # this runtime (Spark 4.x); catalog.load_table owns the probe +
        # normalization so oracle comparisons agree — see catalog.py.
        # local-mode executors all live in the driver JVM; at 8g the
        # 19-query bench sequence spends up to ~2s/query in GC churn
        # (measured: training_corpus_pipeline 2.4s at 8g → 0.9s at
        # 24g), so size the heap to the 32-thread working set. On a
        # real cluster this is owned by spark-submit instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Spark UI off by default: the live UI's per-job/stage/task
        # event bookkeeping is pure driver-side overhead in a
        # many-small-jobs workload — measured on this box it is half
        # the per-action floor (1-row noop action: 0.08-0.17s with UI,
        # 0.044-0.057s without). The observability fallbacks are
        # OPT-IN, not pre-wired: SPARK_GRAFT_UI=1 (or extra_conf)
        # turns the live UI back on, and SPARK_GRAFT_EVENTLOG_DIR=<dir>
        # (or the spark.eventLog.* extra_conf scripts/scale_probe.py
        # passes) writes the event log a history server replays — the
        # config a production cluster running UI-off would set.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        # Home of the default database and of the pipeline's managed
        # gas_prices table (pipeline.py create_tables). Without it
        # Spark creates spark-warehouse/ under the cwd on first catalog
        # use, i.e. inside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mas_warehouse"),
        )
    )
    eventlog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", eventlog_dir
        )
    builder = builder.master(master if master is not None else f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
