"""Physical-plan property tests: pin the plan shapes that matter at
100 TB (SURVEY.md §4.2 / the engine's perf posture). A failure here
means a query silently lost pushdown/broadcast/pruning — correct
results, catastrophic at scale."""

from __future__ import annotations

from master_airflow_spark.plans.explain import formatted
from master_airflow_spark.registry import REGISTRY, _ensure_loaded
from plan_asserts import has_operator, has_pushed_filter, join_kinds, op_count, read_schemas

_ensure_loaded()


def _q(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir)


def test_date_range_filter_pushed_to_scan(spark, sf_dir):
    df = _q(spark, sf_dir, "date_range_filter")
    assert has_pushed_filter(df, "l_shipdate"), "range predicate must reach parquet"


def test_date_range_filter_prunes_columns(spark, sf_dir):
    (schema,) = read_schemas(_q(spark, sf_dir, "date_range_filter"))
    assert "l_comment" not in schema
    assert set("l_orderkey l_linenumber l_shipdate l_extendedprice".split()) <= {
        c.split(":")[0] for c in schema.strip("struct<>").split(",")
    }
    assert "l_quantity" not in schema, "unprojected columns must be pruned"


def test_membership_filter_pushed(spark, sf_dir):
    assert has_pushed_filter(
        _q(spark, sf_dir, "membership_filter"), "o_orderpriority"
    ), "IN-set predicate must reach parquet"


def test_revenue_by_nation_broadcasts_dims(spark, sf_dir):
    kinds = join_kinds(_q(spark, sf_dir, "revenue_by_nation"))
    assert "BroadcastHashJoin" in kinds, "dim joins must broadcast"
    assert "CartesianProduct" not in kinds


def test_revenue_by_nation_fact_probes_int_key_agg(spark, sf_dir):
    """rbn (r16): the lineitem fact must STREAM against the pruned
    (orders ⋈ customer-keys) build — at bench SF the old left-deep
    chain made lineitem the broadcast build side, a 600k-row hash
    relation rebuilt per execution — and the aggregate must key on
    the c_nationkey int with nation names attached post-exchange.
    With the auto-broadcast threshold disabled, the size-gated o2
    hint survives (orders parquet is under the gate at test SFs), the
    unhinted o⋈c2 leg plans its shuffle, and lineitem must still not
    sit under any BroadcastExchange."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted(_q(spark, sf_dir, "revenue_by_nation"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "hashpartitioning(c_nationkey" in plan, (
        "aggregate must key on the c_nationkey int, not the name string"
    )
    assert _scans_under_broadcast(plan, "lineitem.parquet") == []


def test_revenue_by_nation_no_hint_at_unknown_orders_size(spark, sf_dir, tmp_path):
    """An orders table whose part file lacks the .parquet suffix sizes
    at 0 bytes: an unknown size, which must mean NO broadcast hint
    (catalog.broadcast_if fails safe). With auto-broadcast off,
    nothing may then put the orders scan under a BroadcastExchange."""
    import os
    import shutil

    from master_airflow_spark.catalog import TABLES, table_bytes, table_path

    out = str(tmp_path)
    for t in TABLES:
        if t != "orders":
            os.symlink(table_path(sf_dir, t), table_path(out, t))
    orders = table_path(out, "orders")
    os.mkdir(orders)
    shutil.copy(table_path(sf_dir, "orders"), os.path.join(orders, "part-0"))
    assert table_bytes(out, "orders") == 0

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted(_q(spark, out, "revenue_by_nation"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert _scans_under_broadcast(plan, orders) == []


def _scans_under_broadcast(plan: str, table: str) -> list[str]:
    """BroadcastExchange lines of a formatted() plan whose subtree holds
    a Scan parquet node reading ``table`` (a path fragment)."""
    import re

    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    scan_ids = {
        m.group(1)
        for b in blocks
        for m in [re.match(r"\((\d+)\) Scan parquet", b)]
        if m and table in b
    }
    assert scan_ids, f"{table} scan not found"
    tree = plan.split("\n\n")[0].splitlines()
    hits = []
    for i, line in enumerate(tree):
        if not re.search(r"BroadcastExchange \(\d+\)", line):
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        for nxt in tree[i + 1 :]:
            if len(nxt) - len(nxt.lstrip(" :+-")) <= indent:
                break
            sid = re.search(r"Scan parquet\s+\((\d+)\)", nxt)
            if sid and sid.group(1) in scan_ids:
                hits.append(f"{line.strip()} over {nxt.strip()}")
    return hits


def test_top_customers_join_no_cartesian(spark, sf_dir):
    kinds = join_kinds(_q(spark, sf_dir, "top_customers_per_segment"))
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    # theta join against a 3-row band table: BNLJ with the tiny side
    # broadcast is the RIGHT plan (hash join can't express the range)
    kinds = join_kinds(_q(spark, sf_dir, "range_join_price_bands"))
    assert "BroadcastNestedLoopJoin" in kinds


def test_top1_is_single_scan_argmax(spark, sf_dir):
    # top-1 compiles to ONE aggregate over ONE scan (argmax as
    # max(struct(...)) with partial map-side combine), not a global
    # sort and not two sorted scans unioned
    for q in ("top1_price_alltime", "top1_price_today"):
        plan = formatted(_q(spark, sf_dir, q))
        # formatted() prints each node twice (tree line + detail
        # section), so a single scan appears exactly twice
        assert plan.count("Scan parquet") == 2, f"{q}: must scan lineitem once"
        assert "partial_max(struct" in plan, f"{q}: argmax must partial-aggregate"
        assert "Sort " not in plan, f"{q}: no global sort"


def test_multikey_sort_uses_take_ordered(spark, sf_dir):
    assert has_operator(_q(spark, sf_dir, "multikey_sort_nulls"), "TakeOrderedAndProject")


def test_pricing_summary_partial_agg(spark, sf_dir):
    # two HashAggregates (partial + final) around one exchange =
    # map-side combine is on
    plan = formatted(_q(spark, sf_dir, "pricing_summary"))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_normalize_whitespace_prunes_to_two_columns(spark, sf_dir):
    (schema,) = read_schemas(_q(spark, sf_dir, "normalize_whitespace"))
    cols = {c.split(":")[0] for c in schema.strip("struct<>").split(",")}
    assert cols == {"doc_id", "text"}


def test_semi_join_stays_semi(spark, sf_dir):
    plan = formatted(_q(spark, sf_dir, "semi_anti_customers"))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_stats_moments_partial_agg(spark, sf_dir):
    # decimal sufficient statistics must map-side combine: partial +
    # final HashAggregate around a single exchange
    df = _q(spark, sf_dir, "stats_moments")
    assert op_count(df, "HashAggregate") == 2
    assert op_count(df, "Exchange") == 1


def test_sessionize_single_shuffle(spark, sf_dir):
    # the session rollup groups by (user_id, session_no); the window's
    # hashpartitioning(user_id) already clusters that, so Spark must
    # NOT add a second exchange — at 100 TB a redundant shuffle of the
    # full events table would dominate the query
    assert op_count(_q(spark, sf_dir, "sessionize_events"), "Exchange") == 1


def test_unpivot_pushes_date_filter(spark, sf_dir):
    df = _q(spark, sf_dir, "unpivot_lineitem_measures")
    assert has_pushed_filter(df, "l_shipdate"), "slice must reach parquet scan"
    for schema in read_schemas(df):
        assert "l_comment" not in schema, "unprojected columns must be pruned"


def test_listagg_broadcasts_nation(spark, sf_dir):
    kinds = join_kinds(_q(spark, sf_dir, "listagg_nation_customers"))
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_window_distribution_single_shuffle(spark, sf_dir):
    # both window frames share partitioning+ordering: one exchange,
    # one sort — not one per window function
    df = _q(spark, sf_dir, "window_distribution")
    assert op_count(df, "Exchange") == 1
    assert op_count(df, "Window") == 1


def test_embedding_normalize_no_shuffle(spark, sf_dir):
    # per-row vector math must stay a scan-side projection
    df = _q(spark, sf_dir, "embedding_normalize")
    assert op_count(df, "Exchange") == 0
    assert op_count(df, "Scan parquet") == 1


def test_embedding_centroids_partial_agg(spark, sf_dir):
    df = _q(spark, sf_dir, "embedding_centroids")
    # single (label, dim) hash-agg pair — partial + final around one
    # exchange, fully codegen (the judged output is exploded per-dim,
    # so no object-hash collect_list stage exists anymore)
    assert op_count(df, "HashAggregate") == 2
    assert op_count(df, "ObjectHashAggregate") == 0
    assert op_count(df, "Exchange") == 1


def test_sequence_packing_single_shuffle(spark, sf_dir):
    assert op_count(_q(spark, sf_dir, "sequence_packing"), "Exchange") == 1


def test_q6_filters_push_to_scan(spark, sf_dir):
    # Q6's whole point: every predicate reaches the parquet scan
    plan = formatted(_q(spark, sf_dir, "q6_forecast_revenue"))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


# -- round-3 additions --------------------------------------------------------


def test_q8_market_share_dims_broadcast(spark, sf_dir):
    """Seven-table Q8: every dimension leg must broadcast; the only
    shuffle joins allowed are the two fact-side equi-joins."""
    df = _q(spark, sf_dir, "q8_market_share")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert kinds.count("BroadcastHashJoin") >= 5, kinds
    n_shuffle = kinds.count("SortMergeJoin") + kinds.count("ShuffledHashJoin")
    assert n_shuffle <= 2, f"fact joins only: {kinds}"


def test_q15_quarter_filter_pushed(spark, sf_dir):
    assert has_pushed_filter(
        _q(spark, sf_dir, "q15_top_supplier"), "l_shipdate"
    ), "quarter predicate must reach the lineitem scan"


def test_q21_supplier_broadcast_no_cartesian(spark, sf_dir):
    kinds = join_kinds(_q(spark, sf_dir, "q21_waiting_suppliers"))
    assert "CartesianProduct" not in kinds
    assert "BroadcastHashJoin" in kinds, "supplier dim must broadcast"


def test_containment_pairs_no_cartesian(spark, sf_dir):
    """The candidate generator must be the inverted-index equi-join on
    (gram, source) — never an all-pairs product."""
    from master_airflow_spark.registry import release_caches

    df = _q(spark, sf_dir, "containment_pairs")
    kinds = join_kinds(df)
    release_caches()
    assert "CartesianProduct" not in kinds, kinds


def test_scd2_single_exchange(spark, sf_dir):
    """SCD2 build is one shuffle keyed on user_id — lead() and the
    interval projection reuse the same partitioning."""

    df = _q(spark, sf_dir, "scd2_purchase_history")
    assert op_count(df, "Exchange") == 1


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """Runtime Bloom-filter join pruning (on by default in Spark 4):
    a selective filter on the shuffle-join build side injects a
    might_contain() pre-filter into the probe-side scan, cutting
    shuffle volume — the 100 TB fact-fact join aid. Thresholds are
    lowered to make the toy-scale plan demonstrate the production
    shape (at real scale the defaults — app side > 10GB — govern)."""
    from pyspark.sql import functions as F

    from master_airflow_spark.catalog import load_table

    confs = {
        # sf0.001's lineitem parquet is ~115KB; the app-side scan must
        # exceed this for injection (default 10GB — the real-scale gate)
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted(j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_q21_single_lineitem_scan_no_cache(spark, sf_dir):
    """The one-pass rewrite: lineitem is scanned exactly once (the old
    join-back shape scanned the cached join twice), and nothing in the
    plan depends on a persisted intermediate."""
    plan = formatted(_q(spark, sf_dir, "q21_waiting_suppliers"))
    assert plan.count("lineitem.parquet") == 1
    assert "InMemoryTableScan" not in plan
    # two-level agg: exactly the three shuffle exchanges (pair agg,
    # order agg, final s_name agg) besides the dim broadcasts
    shuffles = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") is False
        and "Exchange (" in line and "BroadcastExchange" not in line
    )
    assert shuffles <= 3, plan


def test_tfidf_window_reuses_doc_partitioning(spark, sf_dir):
    """The single-exchange rewrite: the per-doc top-3 window must sit
    directly on the join output (Sort, no Exchange in between) —
    the explicit doc_id repartition satisfies it."""
    plan = formatted(_q(spark, sf_dir, "tfidf_top_terms"))
    lines = [l.strip() for l in plan.splitlines() if "+-" in l or l.strip().startswith("Window")]
    # find the tree lines: Window -> Sort -> (no Exchange) -> join
    tree = [l for l in lines if any(k in l for k in ("Window (", "Sort (", "Exchange (", "Join"))]
    wi = next(i for i, l in enumerate(tree) if "Window (" in l)
    below = tree[wi + 1 : wi + 3]
    assert any("Sort (" in l for l in below), tree
    assert not any(
        "Exchange (" in l and "BroadcastExchange" not in l for l in below
    ), tree


def test_pagerank_broadcasts_ranks_onto_edges(spark, sf_dir):
    # each iteration joins the node-sized rank table to the edge list:
    # the rank side must broadcast (edges are the 100 TB object) and
    # nothing may degenerate to a cartesian product
    from master_airflow_spark.registry import release_caches

    df = _q(spark, sf_dir, "pagerank_trade_graph")
    kinds = join_kinds(df)
    release_caches()
    assert "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds


def test_last_touch_attribution_no_range_join(spark, sf_dir):
    # the union-scan form must contain NO join at all — one window
    # over the interleaved stream; a join here means the operator
    # regressed to the quadratic clicks×purchases candidate space
    df = _q(spark, sf_dir, "last_touch_attribution")
    assert join_kinds(df) == []
    assert op_count(df, "Exchange") == 1, "one user_id shuffle only"


def test_multi_touch_no_join_single_shuffle(spark, sf_dir):
    df = _q(spark, sf_dir, "multi_touch_window_count")
    assert join_kinds(df) == []
    assert op_count(df, "Exchange") == 1


def test_equi_depth_no_corpus_global_window(spark, sf_dir):
    # the NTILE semantics must NOT execute as a single-partition
    # global window over the orders table: the only SinglePartition
    # exchanges allowed are the two feeding the bucket-size prefix sum
    # and the total count (#value-buckets rows each), never the fact
    # rows — an added global ntile/row_number over orders would
    # introduce a third.
    plan = formatted(_q(spark, sf_dir, "equi_depth_price_buckets"))
    # fact-side ranking runs inside hashpartitioning(vbkt) windows
    assert "hashpartitioning(vbkt" in plan
    assert plan.count("SinglePartition") <= 2, (
        "a SinglePartition exchange beyond the offsets/total aggregates "
        "means the fact table is being globally sorted"
    )


def test_inverted_index_single_term_shuffle_after_distinct(spark, sf_dir):
    # distinct on (doc_id, term) then groupBy(term): two exchanges
    # total (pair hash, then term hash) — no third
    df = _q(spark, sf_dir, "inverted_index_postings")
    assert op_count(df, "Exchange") <= 2


def test_merge_classify_joins_on_key_no_broadcast_needed(spark, sf_dir):
    # state⋈changes is key-keyed; whatever join strategy AQE picks it
    # must stay an equi-join — no nested loop, no cartesian
    df = _q(spark, sf_dir, "merge_changes_classify")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds


def test_winsorized_mean_broadcasts_bounds(spark, sf_dir):
    kinds = join_kinds(_q(spark, sf_dir, "winsorized_mean_price"))
    assert "BroadcastHashJoin" in kinds, "the 5-row bounds table must broadcast"


def test_source_token_divergence_broadcasts_vocab(spark, sf_dir):
    from master_airflow_spark.registry import release_caches

    kinds = join_kinds(_q(spark, sf_dir, "source_token_divergence"))
    release_caches()
    assert "BroadcastHashJoin" in kinds
    assert "CartesianProduct" not in kinds


def test_quality_logit_zero_shuffle_pruned_scan(spark, sf_dir):
    """The quality classifier is a single pruned scan: no exchanges,
    no joins, and the unused columns never leave parquet."""

    df = _q(spark, sf_dir, "quality_logit_score")
    assert op_count(df, "Exchange") == 0
    (schema,) = read_schemas(df)
    assert "source" not in schema and "lang" not in schema


def test_scd2_history_single_exchange(spark, sf_dir):
    """Duplicate-state collapse (lag), versioning (row_number), and
    interval close (lead) all share ONE user_id-keyed exchange — a
    second shuffle of the events table would dominate at scale."""

    df = _q(spark, sf_dir, "scd2_history_build")
    assert op_count(df, "Exchange") == 1


def test_boilerplate_no_broadcast_of_corpus(spark, sf_dir):
    """Corpus-frequency join must stay a shuffled hash join keyed on
    gram at scale — but AQE may legitimately broadcast at sf0.001.
    The invariants that must hold at ANY size: no cartesian/NLJ, and
    the tokenize→explode→distinct pass over the corpus runs ONCE —
    the (doc_id, gram) set is cached, so the plan contains exactly one
    parquet scan of the text column (two InMemoryTableScans replace
    the second full pass ReuseExchange failed to dedup)."""
    from master_airflow_spark.registry import release_caches

    df = _q(spark, sf_dir, "boilerplate_shingle_ratio")
    kinds = join_kinds(df)
    schemas = read_schemas(df)
    n_cache_reads = op_count(df, "InMemoryTableScan")
    release_caches()
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert sum("text" in s for s in schemas) == 1, (
        f"text must be scanned exactly once, got {schemas}"
    )
    assert n_cache_reads == 2, "freq and join-back must both read the cache"


def test_lsh_ann_single_corpus_scan_one_bounded_shuffle(spark, sf_dir):
    """The fused LSH kernel: the embeddings table is scanned ONCE by
    the plan (the bounded query set is collected before planning), and
    the only exchange is the k*|Q|-bounded window shuffle — no joins
    at all."""

    df = _q(spark, sf_dir, "lsh_bucketed_ann")
    from master_airflow_spark.registry import release_caches

    kinds = join_kinds(df)
    n_exchanges = op_count(df, "Exchange")
    schemas = read_schemas(df)
    release_caches()  # before asserts: a failure must not leak the broadcast
    assert kinds == []
    assert n_exchanges == 1
    assert len(schemas) == 1, "exactly one parquet scan in the plan"


def test_dup_span_extract_no_cartesian_docid_windows(spark, sf_dir):
    """Candidate generation must stay a gram-keyed equi-join (no
    cartesian/NLJ at any size), the text column feeds both gram
    branches (exactly two scans — measured cheaper than caching the
    corpus-sized gram stream), and no range partitioning anywhere
    (all sorts are hash-partitioned window-local)."""

    df = _q(spark, sf_dir, "dup_span_extract")
    kinds = join_kinds(df)
    plan = formatted(df)
    schemas = read_schemas(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert sum("text" in s for s in schemas) == 2, (
        f"text scanned exactly twice (probe + frequency branch): {schemas}"
    )
    assert "rangepartitioning" not in plan.lower(), "no global sort"


def test_dup_span_cut_keeps_all_docs_no_global_sort(spark, sf_dir):
    """The cut plan: token stream joined LEFT (so fully-duplicated
    docs survive to the aggregate), no cartesian/NLJ, no global sort
    (reassembly order comes from array_sort inside the aggregate, not
    an ORDER BY)."""

    df = _q(spark, sf_dir, "dup_span_cut")
    kinds = join_kinds(df)
    plan = formatted(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert plan.count("Join LeftOuter") == 1, (
        "exactly one left-outer join (token stream vs duplicated windows); "
        "the gram joins stay inner"
    )
    assert "rangepartitioning" not in plan.lower(), "no global sort"


def test_heavy_hitters_verify_broadcasts_candidates(spark, sf_dir):
    """The exact-verify pass must broadcast the bounded candidate set
    into the second corpus scan (never shuffle the corpus against it),
    with no cartesian/NLJ and no global sort; the sketch feeds the
    candidate merge from cache, not a second mapInPandas corpus pass."""
    from master_airflow_spark.registry import release_caches

    try:
        df = _q(spark, sf_dir, "heavy_hitters_mg_verified")
        kinds = join_kinds(df)
        plan = formatted(df)
    finally:
        release_caches()
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "BroadcastHashJoin" in kinds, f"candidates must broadcast: {kinds}"
    assert "rangepartitioning" not in plan.lower(), "no global sort"
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree, (
        "candidates must read the cached sketch, not re-run the kernel"
    )
    # the only MapInPandas allowed is the one stored INSIDE the cached
    # relation's description — none may execute in the live tree
    live = tree.split("InMemoryRelation")[0]
    assert "MapInPandas" not in live, "sketch kernel must not re-execute"


def test_q7_fact_joins_broadcast_dims_only(spark, sf_dir):
    """Q7: the HINTED dims (nation ×2 aliases, supplier) must
    broadcast, and the UNHINTED fact-fact joins (lineitem⋈orders⋈
    customer) must shuffle — a fact side collected to every executor
    melts at 100 TB. At test/bench SFs every table fits under
    autoBroadcastJoinThreshold, so Catalyst broadcasting a fact side
    is size-legitimate and hides the regression this test exists to
    pin (r9 review); disabling the threshold simulates
    larger-than-broadcastable stats — F.broadcast hints survive it,
    size-based picks don't — and the fact joins must then plan as
    shuffle joins."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        kinds = join_kinds(_q(spark, sf_dir, "q7_volume_shipping"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in kinds, "hinted dims must still broadcast"
    assert "SortMergeJoin" in kinds or "ShuffledHashJoin" in kinds, (
        f"unhinted fact-fact joins must shuffle, got {kinds}"
    )
    assert "CartesianProduct" not in kinds


def test_session_aqe_advisory_exchange_sizing(spark):
    """The engine session must let AQE size reduce partitions by data
    volume instead of pinning them to the thread count: initial
    partition number ≥ 4× shuffle.partitions (r8 verdict #4 — at 32
    fixed partitions the q7 x50 fact-fact shuffle paged ~1.16× over
    linear), with coalescing enabled so small-SF plans stay at thread
    count."""
    conf = spark.conf
    init = int(conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    base = int(conf.get("spark.sql.shuffle.partitions"))
    assert init >= 4 * base
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"


def test_bpe_apply_zero_shuffle_pruned_scan(spark, sf_dir):
    """The BPE apply kernel (zero-merge anchor config — same plan
    shape as the learned config) is ONE streaming mapInPandas pass:
    no Exchange anywhere (the merge table rides an sc.broadcast, not
    a plan-level join), and the documents scan prunes to doc_id+text."""

    df = _q(spark, sf_dir, "bpe_tokenize_zero_merges")
    assert op_count(df, "Exchange") == 0, "corpus must never shuffle"
    (schema,) = read_schemas(df)
    assert "text" in schema and "doc_id" in schema
    assert "source" not in schema, "unprojected columns must be pruned"


def test_semdedup_single_cell_exchange_no_cartesian(spark, sf_dir):
    """SemDeDup's celled config: in-kernel cell assignment
    (mapInPandas, centroids on sc.broadcast), then exactly ONE
    Exchange — the hash-partition by cell feeding the grouped
    pairwise kernel. No cartesian/NLJ anywhere (the whole point vs
    all-pairs), no plan-level broadcast of the corpus."""

    df = _q(spark, sf_dir, "semdedup_keep")
    kinds = join_kinds(df)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    plan = formatted(df)
    assert "BroadcastExchange" not in plan, "corpus must not broadcast"
    # one cell-shuffle + the orderBy's range exchange; nothing else
    assert op_count(df, "Exchange") <= 2
    assert "hashpartitioning(cell" in plan, "grouped kernel must key on cell"


def test_q2_agg_and_window_share_one_partkey_exchange(spark, sf_dir):
    """q2 (r15 rewrite): repartition("l_partkey") must satisfy BOTH the
    (partkey, suppkey) min-price aggregate and the best-price window —
    exactly one hash exchange in the plan, keyed on l_partkey alone.
    A second exchange means the window re-shuffled the aggregate."""
    df = _q(spark, sf_dir, "q2_min_cost_supplier")
    plan = formatted(df)
    assert op_count(df, "Exchange") == 1, plan
    assert "hashpartitioning(l_partkey#" in plan, plan


def test_funnel_single_scan_stacked_windows(spark, sf_dir):
    """funnel_conversion (r15 rewrite): one events scan, the three
    stage MINs as windows over one user_id exchange, no joins — the
    old chained-join form scanned events six times over eight
    exchanges."""
    df = _q(spark, sf_dir, "funnel_conversion")
    plan = formatted(df)
    assert len(read_schemas(df)) == 1, "events must be scanned exactly once"
    assert op_count(df, "Exchange") <= 2, plan  # user_id + final 1-row agg
    assert join_kinds(df) == [], "stage chaining must not join"
    assert plan.count(") Window") == 3 or op_count(df, "Window") == 3, plan


def test_q7_fact_exchange_carries_cents_and_year_not_raw(spark, sf_dir):
    """q7 (r15 §2.3): the lineitem leg must enter its exchange already
    narrowed to (rev cents long, ship_year int); shuffling raw
    price/discount/shipdate re-widens the fact exchange 28 → 40 B/row.
    Broadcast is disabled so the fact-fact joins actually plan their
    shuffles (same technique as test_q7_fact_joins_broadcast_dims_only)."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted(_q(spark, sf_dir, "q7_volume_shipping"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    ex_blocks = [b for b in blocks if re.match(r"\(\d+\) Exchange", b)]
    assert ex_blocks, "expected shuffle exchanges with broadcast disabled"
    for b in ex_blocks:
        for raw in ("l_extendedprice", "l_discount", "l_shipdate"):
            assert raw not in b, f"raw column {raw} crossed an exchange:\n{b}"
    assert "AS rev#" in plan and "AS ship_year#" in plan, plan


def test_q18_band_gated_agg_broadcast(spark, sf_dir, monkeypatch):
    """q18 (r16 §3.1): inside the [16 MB, 256 MB) orders-bytes band the
    HAVING-filtered aggregate carries an explicit broadcast hint (its
    ~1.5% selectivity is invisible to Catalyst/AQE size estimation),
    so orders never shuffles; outside the band the hint must be
    absent — below it Catalyst broadcasts the orders side itself, and
    at 100 TB the aggregate's worst case is not a safe broadcast.
    Auto-broadcast is off for both plans, so only the hint can put a
    BroadcastExchange over the aggregate."""
    import re

    import master_airflow_spark.catalog as catalog

    def plan_at(orders_bytes):
        monkeypatch.setattr(catalog, "table_bytes", lambda d, n: orders_bytes)
        return formatted(_q(spark, sf_dir, "q18_large_orders"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        mid = plan_at(64 << 20)
        big = plan_at(1 << 40)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # build side is the aggregate: a BroadcastExchange directly over
    # the Filter(HAVING) / HashAggregate subtree, and no orders-key shuffle
    agg_build = re.compile(
        r"BroadcastExchange \(\d+\)\n[ :|]*\+- Filter \(\d+\)\n[ :|]*\+- HashAggregate"
    )
    assert agg_build.search(mid.split("\n\n")[0]), mid
    assert "hashpartitioning(o_orderkey" not in mid, mid

    # past the band: the agg is NOT hinted, and the orders join plans
    # its shuffle again (the 100 TB shape)
    assert "BroadcastExchange" not in big, big
    assert "hashpartitioning(o_orderkey" in big, big
