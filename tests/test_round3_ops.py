"""Semantic laws for the round-3 operators, beyond the oracle diff:
SCD2 intervals partition each user's timeline; histogram bins cover
every row exactly once; containment is directional and complete for
identical documents; Zipf scoring is scale-consistent.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_scd2_intervals_chain(spark, sf_dir):
    """Per user: exactly one open (is_current) interval, and every
    closed interval's valid_to equals the next interval's valid_from —
    the half-open chain that makes as-of lookups unambiguous."""
    from master_airflow_spark.operators.window import scd2_purchase_history

    out = scd2_purchase_history(spark, sf_dir).cache()
    open_counts = (
        out.groupBy("user_id")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
        .where(F.col("n_open") != 1)
        .count()
    )
    assert open_counts == 0
    # chain law: valid_to of row k == valid_from of row k+1 (per user)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("valid_from")
    chained = out.withColumn("next_from", F.lead("valid_from").over(w)).where(
        F.col("valid_to").isNotNull() & (F.col("valid_to") != F.col("next_from"))
    )
    assert chained.count() == 0
    out.unpersist()


def test_price_histogram_partitions_rows(spark, sf_dir):
    """Bin counts sum to the table row count and bins lie in [0, 9]."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.stats import price_histogram

    h = price_histogram(spark, sf_dir).collect()
    n_rows = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_items for r in h) == n_rows
    assert all(0 <= r.bin <= 9 for r in h)


def test_containment_identical_docs(spark):
    """A document fully contained in a longer one scores 1.0 in the
    a→b direction and < 1.0 in b→a — the asymmetry Jaccard lacks."""
    import tempfile

    from master_airflow_spark.operators.text import containment_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en", "s1", len(base)),
        (2, base + " with a long unique suffix bolted onto the end here", "en", "s1", 0),
        (3, "completely unrelated content lives in this document", "en", "s1", 0),
    ]
    import pandas as pd

    with tempfile.TemporaryDirectory() as d:
        # single-file parquet, the layout the driver testdata ships
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).to_parquet(f"{d}/documents.parquet")
        out = {
            (r.a_id, r.b_id): r.containment
            for r in containment_pairs(spark, d).collect()
        }
    from master_airflow_spark.registry import release_caches

    release_caches()
    assert out[(1, 2)] == 1.0  # doc1 ⊂ doc2
    assert 0.5 <= out[(2, 1)] < 1.0  # doc2 only partially inside doc1
    assert (1, 3) not in out and (3, 1) not in out


def test_zipf_score_bounds(spark, sf_dir):
    """rare_frac ∈ [0,1]; mean_tok_freq ≥ 1 (every token occurs at
    least once — itself); one output row per document."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.text import zipf_quality_score

    out = zipf_quality_score(spark, sf_dir).cache()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    bad = out.where(
        (F.col("rare_frac") < 0)
        | (F.col("rare_frac") > 1)
        | (F.col("mean_tok_freq") < 1)
    ).count()
    assert bad == 0
    out.unpersist()


def test_interpolation_laws(spark, sf_dir):
    """Observed days pass through exactly; interpolated values lie
    within their bracketing observations; days outside the observed
    range keep NULL interp."""
    from master_airflow_spark.operators.stats import interpolate_sparse_series

    rows = interpolate_sparse_series(spark, sf_dir).orderBy("day").collect()
    obs = [(i, r.revenue) for i, r in enumerate(rows) if r.revenue is not None]
    assert obs, "series must have observations"
    for i, r in enumerate(rows):
        if r.revenue is not None:
            assert r.revenue_interp == r.revenue
    first_obs, last_obs = obs[0][0], obs[-1][0]
    for i, r in enumerate(rows):
        if r.revenue is None and first_obs < i < last_obs:
            lo = min(v for j, v in obs)
            hi = max(v for j, v in obs)
            assert r.revenue_interp is not None and lo <= r.revenue_interp <= hi
        if r.revenue is None and (i < first_obs or i > last_obs):
            assert r.revenue_interp is None


def test_mix_sample_nesting(spark, sf_dir):
    """Hash sampling is nested: the rows kept at rate p are a superset
    of those kept at any rate q < p — mixing ratios can be tuned
    without resampling churn."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", hash_bucket("doc_id").alias("b")
    )
    kept = {p: {r.doc_id for r in d.where(F.col("b") < p).collect()} for p in (10, 25, 50)}
    assert kept[10] <= kept[25] <= kept[50]


def test_incremental_dedup_no_overlap(spark, sf_dir):
    """No surviving 'new' document shares a fingerprint with
    yesterday's snapshot."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.dedup import incremental_corpus_dedup

    out = incremental_corpus_dedup(spark, sf_dir)
    y = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 2 == 0)
        .select(F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("fp"))
    )
    assert out.join(y, "fp", "inner").count() == 0


def test_multiset_intersect_law(spark, sf_dir):
    """|A ∩all B| == Σ_key min(multiplicity_A, multiplicity_B)."""
    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.relational import multiset_set_ops

    o = load_table(spark, sf_dir, "orders")
    counts = {}
    for status in ("F", "O"):
        for r in (
            o.where(F.col("o_orderstatus") == status)
            .groupBy("o_custkey", "o_orderpriority")
            .count()
            .collect()
        ):
            counts.setdefault((r.o_custkey, r.o_orderpriority), {})[status] = r["count"]
    expect = sum(min(v.get("F", 0), v.get("O", 0)) for v in counts.values())
    got = {r.setop: r.n_rows for r in multiset_set_ops(spark, sf_dir).collect()}
    assert got["common_pairs"] == expect


def test_winnowing_shared_run_guarantee(spark):
    """Schleimer/Wilkerson/Aiken guarantee: two documents sharing a
    token run of length ≥ WINNOW_W + WINNOW_K − 1 share at least one
    winnowing fingerprint."""
    import tempfile

    import pandas as pd

    from master_airflow_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprint_rows,
    )

    shared = " ".join(f"shared{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [
        (1, "alpha beta gamma " + shared + " delta epsilon", "en", "s", 0),
        (2, "one two three four " + shared + " five six seven", "en", "s", 0),
        (3, "totally different words everywhere all the time", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).to_parquet(f"{d}/documents.parquet")
        docs = spark.read.parquet(f"{d}/documents.parquet")
        fps: dict[int, set[int]] = {1: set(), 2: set(), 3: set()}
        for r in winnow_fingerprint_rows(docs).collect():
            fps[r.doc_id].add(r.fp)
    # the guarantee, asserted as an actual set intersection on the
    # pre-digest fingerprint sets: docs 1 and 2 share a token run of
    # exactly w+k-1, so they MUST share >= 1 fingerprint; doc 3 shares
    # no run with either, so (on this constructed vocab) shares none.
    assert fps[1] & fps[2], "shared-run guarantee violated"
    assert not (fps[3] & fps[1]) and not (fps[3] & fps[2])


def test_recursive_depth_law(spark, sf_dir):
    """depth_to_root(key) == floor(log2(key)) for key ≥ 1 under the
    halving hierarchy (key 0 terminates immediately with depth 0)."""
    import math

    from master_airflow_spark.operators.sql_api import recursive_cte_hierarchy

    rows = {r.start_key: r.depth_to_root for r in recursive_cte_hierarchy(spark, sf_dir).collect()}
    for key, depth in rows.items():
        expect = 0 if key == 0 else int(math.floor(math.log2(key)))
        assert depth == expect, (key, depth, expect)


def test_hll_sketch_error_bound_and_union_law(spark, sf_dir):
    """HLL estimates stay within 3% of exact distinct counts, and the
    union-of-sketches estimate is consistent with the flat estimate
    over the union of inputs (the re-aggregation law)."""
    from master_airflow_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.d
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    exact["__all__"] = e.agg(F.count_distinct("user_id")).collect()[0][0]
    sketches = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    est = {
        r.event_type: r.est
        for r in sketches.select(
            "event_type", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    # the global estimate is the union of the per-type sketches
    est["__all__"] = sketches.agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))).first()[0]
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) <= max(1, 0.03 * v), (k, est[k], v)


def test_hll_sketch_error_degenerate_tables_match_oracle(spark, tmp_path):
    """Round-11 review fix: an EMPTY or all-NULL-user events table must
    yield exactly the oracle's ('__all__', 0, TRUE) global row — the
    union of zero sketches estimates NULL, which must short-circuit
    the zero case instead of NULL-propagating through the division."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from master_airflow_spark import registry
    from master_airflow_spark.catalog import load_table

    registry._ensure_loaded()
    ev = load_table(spark, "/root/testdata/sf0.001", "events")

    def stage(df, name):
        d = tmp_path / name
        d.mkdir()
        df.coalesce(1).write.mode("overwrite").parquet(str(d / "tmp"))
        for f in os.listdir(d / "tmp"):
            if f.endswith(".parquet"):
                shutil.copy(str(d / "tmp" / f), str(d / "events.parquet"))
                break
        return str(d)

    for fixture in (
        stage(ev.limit(0), "empty_events"),
        stage(ev.limit(5).withColumn("user_id", F.lit(None).cast("bigint")),
              "allnull_events"),
    ):
        rows = [
            (r.event_type, r.exact_users, r.within_3sigma)
            for r in registry.REGISTRY["hll_sketch_error"].fn(spark, fixture).collect()
        ]
        registry.release_caches()
        assert rows == [("__all__", 0, True)], rows
