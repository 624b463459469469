"""Named-query registry.

Every judged operator (SURVEY.md §2) registers here as a named query:
a Spark implementation ``(spark, sf_dir) -> DataFrame`` plus, when the
semantics are ANSI-SQL-expressible, the exact DuckDB oracle SQL the
driver diffs it against. Keeping impl + oracle side-by-side in the same
decorator call is what keeps column names / types / tiebreakers in sync
— the driver hash-compares values after sorting columns by name, so
drift between the two is an instant failure.

Float-determinism contract used throughout the registered queries:
sums/avgs over double columns are made exact and order-independent
before aggregating — either on the scaled-long fast path (integer
cents; functions/exact.py cents/lsum_money — the default for money
and fixed-precision columns since round 7) or by casting to DECIMAL
(the wide-magnitude fallback) — and converted to DOUBLE once at the
end, so Spark's parallel partial aggregates and DuckDB's
single-threaded fold produce bit-identical values. Top-k queries
always carry a total ordering (explicit tiebreaker keys).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# Exposure order for the driver contract. The driver samples the
# FIRST 50 registry entries each round, so ordering is the lever that
# decides which queries get externally certified. Round-16 policy
# (the round-15 verdict's #7 item — continue the stamp rotation):
# (1) slots 1-31: every query whose freshest driver stamp is r11 —
#     the full r11 remainder (the verdict's 27-query
#     ngram_jaccard_pairs .. zorder_layout_keys span plus the four
#     other r11-stamped names that had not re-entered a window:
#     approx_distinct_users, approx_percentiles, and the two
#     alphabetically-early stragglers), name order. After this window
#     the oldest stamp anywhere in the registry is r12.
# (2) slots 32-33: queries planned for code changes this round —
#     q18_large_orders and jaccard_block_pairs. Neither the X36
#     bloom-prune for q18 nor the jaccard candidate-volume pass
#     landed: the bloom was measured and rejected, and q18 got the
#     band-gated broadcast of its HAVING-filtered aggregate instead
#     (OPTIMIZATION_r16.md §5). jaccard_block_pairs is unchanged.
# (3) remaining 17 slots: the oldest r12 stamps, name order
#     (apply_in_pandas_scale .. event_transition_matrix); the r12
#     remainder (events_rollup_grids .. top_customers_per_segment,
#     32 queries) rotates in r17.
# Changed-code note (round-9 verdict protocol): queries whose code is
# touched this round but NOT in the window are re-verified via
# testing.run_one in the touching session; OPTIMIZATION_r16.md
# records the per-query re-certifications.
PRIORITY: tuple[str, ...] = (
    # (1) the 31 r11-stamped queries, name order.
    "approx_distinct_users",
    "approx_percentiles",
    "ngram_jaccard_pairs",
    "normalize_whitespace",
    "orders_in_trailing_30d",
    "pandas_udaf_median",
    "pandas_udf_scalar",
    "percentiles_exact",
    "png_decode_stats",
    "quality_logit_score",
    "rank_orders_window",
    "running_totals",
    "scalar_subquery_above_avg",
    "scd2_history_build",
    "sessionize_events",
    "stream_dedup_watermark",
    "stream_ewma_per_user",
    "stream_interval_join",
    "stream_sliding_agg",
    "stream_static_enrich",
    "stream_topk_users",
    "stream_tumbling_agg",
    "stream_unique_users_rollup",
    "text_quality",
    "text_stats",
    "token_count_bpe",
    "top_bigram_repetition",
    "training_corpus_pipeline",
    "triangle_count_cosuppliers",
    "unpivot_lineitem_measures",
    "zorder_layout_keys",
    # (2) queries whose code changed this round.
    "q18_large_orders",
    "jaccard_block_pairs",
    # (3) the 17 oldest-r12 stamps, name order.
    "apply_in_pandas_scale",
    "array_hof_suite",
    "asof_join_tolerance",
    "bm25_lite_ranking",
    "cohort_retention",
    "containment_pairs",
    "corr_qty_price",
    "correlated_scalar_select",
    "cosine_topk",
    "csv_parse_roundtrip",
    "cube_priority_status",
    "dataset_mix_sample",
    "dedup_exact",
    "embedding_normalize",
    "embedding_quantize",
    "event_rate_anomalies",
    "event_transition_matrix",
)


def _ordered() -> dict[str, QuerySpec]:
    _ensure_loaded()
    out = {n: REGISTRY[n] for n in PRIORITY if n in REGISTRY}
    out.update((n, s) for n, s in REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, QueryFn]:
    """The driver-facing query dict. Each callable releases the
    PREVIOUS query's tracked caches/broadcasts before building its own
    plan: the external driver materializes one query fully before
    invoking the next and never calls release_caches() itself, so
    without this wrapper every track_cache()d frame in a 50-query
    certification loop would stay persisted and executor memory would
    ratchet. Bench and tests manage release explicitly via
    registry.REGISTRY / release_caches().

    Hazard (build-then-materialize): a caller that builds SEVERAL of
    these plans before materializing any loses the persistence of all
    but the last — an unpersisted frame silently recomputes, which is
    only a perf hit because no registered query's CORRECTNESS depends
    on single materialization (plans are deterministic column
    expressions; the one operator that relied on a sampled exchange,
    surrogate_keys, was rewritten to deterministic bucketing). Keep it
    that way: never register a query whose correctness requires a
    persist to stick."""

    def wrap(spec: QuerySpec) -> QueryFn:
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_caches()
            return spec.fn(spark, sf_dir)

        fn.__name__ = spec.fn.__name__
        fn.__doc__ = spec.fn.__doc__
        return fn

    return {name: wrap(spec) for name, spec in _ordered().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None
    }


# Intra-query caches (persist() of a frame feeding both sides of a
# self-join) and SparkContext broadcasts (query matrices shipped to
# executors). Both must outlive the query's ACTION, so the query fn
# can't free them itself — it records them here and the harness
# releases them once the result is materialized, keeping executor and
# driver memory flat across a long many-query session.
_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_BROADCASTS: list = []
_TRACKED_MEMORY_TABLES: list[tuple[SparkSession, str]] = []
_TRACKED_SCRATCH_DIRS: list[str] = []


def track_scratch_dir(path: str) -> None:
    """Register an on-disk scratch dir (e.g. a shared-drain partial
    spool on tmpfs) for release_caches(). Same lifecycle contract as
    memory tables: any plan reading the dir must be materialized
    before the next registered query (or explicit release) runs."""
    _TRACKED_SCRATCH_DIRS.append(path)


def track_cache(df: DataFrame) -> DataFrame:
    """Persist df and register it for release_caches()."""
    df.persist()
    _TRACKED_CACHES.append(df)
    return df


def track_broadcast(bc):
    """Register a SparkContext broadcast for release_caches()."""
    _TRACKED_BROADCASTS.append(bc)
    return bc


def track_memory_table(spark: SparkSession, name: str) -> None:
    """Register a stream-drain memory-sink table for release_caches().
    Memory sinks hold every drained row in driver memory behind a temp
    view; without this, a 50-query certification loop or bench pass
    accumulates one table per drain and driver heap ratchets. Dropping
    the view is safe for the drain's already-returned DataFrame — it
    was analyzed at creation, so its plan no longer goes through the
    catalog — but frees the rows for GC once the caller discards it."""
    _TRACKED_MEMORY_TABLES.append((spark, name))


def release_caches() -> None:
    """Unpersist every tracked cache and broadcast (call after
    consuming a query). Broadcasts are unpersist()ed, not destroy()ed:
    unpersist frees the executor-side blocks (the leak) but leaves the
    broadcast re-sendable from the driver value, so a caller that
    builds several query plans before materializing them can still
    execute an older plan afterwards. Once a drain's products are
    released, the emptied shared parents of its scratch dirs go too."""
    drained = bool(_TRACKED_MEMORY_TABLES or _TRACKED_SCRATCH_DIRS)
    while _TRACKED_CACHES:
        try:
            _TRACKED_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped
    while _TRACKED_BROADCASTS:
        try:
            _TRACKED_BROADCASTS.pop().unpersist()
        except Exception:
            pass
    while _TRACKED_MEMORY_TABLES:
        spark, name = _TRACKED_MEMORY_TABLES.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
    if drained:
        from master_airflow_spark.streaming.events import _remove_scratch, _remove_scratch_parents

        while _TRACKED_SCRATCH_DIRS:
            _remove_scratch(_TRACKED_SCRATCH_DIRS.pop())
        _remove_scratch_parents()


_loaded = False


def _ensure_loaded() -> None:
    """Import every operator module so decorators run."""
    global _loaded
    if _loaded:
        return
    from master_airflow_spark import operators  # noqa: F401  (imports all submodules)

    _loaded = True
