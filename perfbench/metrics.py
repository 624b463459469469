"""The benchmark's metric catalogue: the one source BENCHMARK.json is
checked against (``python3 perfbench/selftest.py``)."""

from __future__ import annotations

# The 26 registered queries of the legacy bench.py headline set, frozen
# here so the benchmark keeps measuring the same work when bench.py
# changes.
HEADLINE = (
    "top1_price_today", "top1_price_alltime", "daily_high_low",
    "pricing_summary", "revenue_by_nation", "q3_shipping_priority",
    "q7_volume_shipping", "q14_promo_revenue", "q19_disjunctive_filter",
    "top_customers_per_segment", "asof_join_events_orders", "dedup_exact",
    "minhash_near_dup", "cosine_topk", "embedding_near_dup", "text_quality",
    "training_corpus_pipeline", "stream_tumbling_agg", "stream_session_window",
    "q5_local_supplier_volume", "q8_market_share", "q9_product_profit",
    "q18_large_orders", "q21_waiting_suppliers", "tfidf_top_terms",
    "lsh_bucketed_ann",
)
DRAINS = ("stream_tumbling_agg", "stream_session_window")

# Layers named after the package's modules. Session time is reported
# as session.get_spark_s: no operation calls it.
LAYERS = (
    "bench", "catalog", "operators", "streaming.events", "serve",
    "http_api", "sources.html_extract", "sinks.writers", "pipeline",
)

# (name, unit, better, bound): every workload reports all of them.
# Process-tree CPU per operation is a per-layer metric instead: on a
# shared 4-vCPU host its run-to-run spread reached the 0.25 cap.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("latency_p75_ms", "ms", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("peak_pss_mb", "MB", "lower", 0.25),
)

PER_LAYER = (
    [(f"layer.{l}.self_ms_per_op", "ms", "lower") for l in LAYERS]
    + [
        ("process.cpu_ms_per_op", "ms", "lower"),
        ("trace.accounted_pct", "%", "higher"),
        ("trace.overhead_pct", "%", "lower"),
        ("generator.late_p95_ms", "ms", "lower"),
        ("session.get_spark_s", "s", "lower"),
        ("operators.plan_build_s", "s", "lower"),
        ("operators.execute_s", "s", "lower"),
        ("spark.jobs_per_op", "count", "lower"),
        ("spark.exec_cpu_ms_per_op", "ms", "lower"),
        ("spark.shuffle_write_bytes_per_op", "B", "lower"),
        ("spark.spill_bytes_per_op", "B", "lower"),
        ("spark.job_gap_ms_per_op", "ms", "lower"),
    ]
    + [
        (f"streaming.{d}.{m}", "s", "lower")
        for d in DRAINS
        for m in ("drain_wall_s", "trigger_s", "startstop_s")
    ]
    + [
        ("catalog.load_table_ms", "ms", "lower"),
        ("serve.plan_ms", "ms", "lower"),
        ("serve.collect_ms", "ms", "lower"),
        ("http_api.queue_wait_ms", "ms", "lower"),
        ("http_api.overhead_ms", "ms", "lower"),
        ("html_extract.parse_s", "s", "lower"),
        ("html_extract.rows_kept_ratio", "ratio", "higher"),
        ("writers.append_s", "s", "lower"),
        ("writers.upsert_s", "s", "lower"),
        ("writers.upsert_bytes_rewritten_per_row", "B/row", "lower"),
        ("writers.stored_bytes_per_row", "B/row", "lower"),
        ("pipeline.create_tables_s", "s", "lower"),
        ("pipeline.extract_s", "s", "lower"),
        ("pipeline.load_s", "s", "lower"),
        ("pipeline.driver_gap_s", "s", "lower"),
    ]
    + [
        (f"query.{q}.{m}", u, "lower")
        for q in HEADLINE
        for m, u in (("plan_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"))
    ]
)


def units(trace: bool) -> dict[str, str]:
    return {m[0]: m[1] for m in (PER_LAYER if trace else END_TO_END)}


def finish(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """The printed metrics object: every catalogued metric of the mode,
    in catalogue order; layers a workload leaves idle read 0."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units(trace).items()
    }
