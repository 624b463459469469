"""Round-4 guards: HLL estimates pinned against an independent engine,
and the local-vs-driver canonicalization parity pins (the property that
made round-1's local-green/driver-red gap invisible must stay tested).
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pytest

from master_airflow_spark import testing


def test_hll_estimate_cross_engine(spark, sf_dir):
    """Pin the DataSketches HLL audit (hll_sketch_error) against
    DuckDB's independent approx_count_distinct (also HLL): both
    engines must land within the error bound of the exact distinct
    count on the same data, and the exact counts must agree —
    certifying the value, not just the row shape."""
    from master_airflow_spark.operators.relational import hll_sketch_error
    from master_airflow_spark.registry import release_caches

    spark_rows = {r.event_type: r for r in hll_sketch_error(spark, sf_dir).collect()}
    release_caches()
    con = testing.duckdb_connection(sf_dir)
    duck = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT event_type, approx_count_distinct(user_id) AS a,"
            " count(DISTINCT user_id) AS x FROM events GROUP BY event_type"
        ).fetchall()
    }
    duck["__all__"] = con.execute(
        "SELECT approx_count_distinct(user_id), count(DISTINCT user_id) FROM events"
    ).fetchone()
    con.close()
    assert set(spark_rows) == set(duck)
    for et, (duck_est, exact) in duck.items():
        tol = max(0.05 * exact, 3)  # HLL k=2^12 rse ~1.6%; 5% is 3σ headroom
        assert spark_rows[et].exact_users == exact, f"{et}: exact counts differ"
        assert spark_rows[et].within_3sigma, f"{et}: spark estimate outside the 5% bound"
        assert abs(duck_est - exact) <= tol, f"{et}: duckdb {duck_est} vs exact {exact}"


class TestCanonDriverParity:
    """Pin testing._canon/_cell to the driver's canonicalization
    semantics. These are the exact behaviors that decide whether local
    green predicts driver green; a drift here reopens the round-1 gap."""

    def test_list_cell_is_a_hard_failure(self):
        # driver's pandas sort_values -> Categorical factorize crashes
        # on list cells; locally that must be an error, never a pass
        with pytest.raises(TypeError):
            testing._canon([1, 2])
        with pytest.raises(TypeError):
            testing._cell(np.array([1.0, 2.0]))

    def test_decimal_never_coerces_to_float(self):
        # a Spark DECIMAL output vs a DOUBLE oracle is a driver hash
        # mismatch; locally the canon forms must stay distinct
        assert testing._canon(decimal.Decimal("1.5")) != testing._canon(1.5)

    def test_date_matches_midnight_datetime(self):
        d = datetime.date(2024, 3, 1)
        ts = datetime.datetime(2024, 3, 1, 0, 0, 0)
        assert testing._canon(d) == testing._canon(ts)

    def test_nan_and_numpy_scalars(self):
        assert testing._canon(float("nan")) == "NaN"
        assert testing._canon(np.float64(1.5)) == testing._canon(1.5)
        assert testing._canon(np.int64(7)) == 7

    def test_compare_is_order_insensitive_both_axes(self, spark):
        sdf = spark.createDataFrame([(2, "b"), (1, "a")], "k int, v string")
        con = testing.duckdb.connect()
        res = testing.compare(
            "t", sdf, con, "SELECT * FROM (VALUES ('a', 1), ('b', 2)) AS t(v, k)"
        )
        con.close()
        assert res.ok, res.mismatches

    def test_compare_flags_value_drift(self, spark):
        sdf = spark.createDataFrame([(1, "a")], "k int, v string")
        con = testing.duckdb.connect()
        res = testing.compare("t", sdf, con, "SELECT 1 AS k, 'X' AS v")
        con.close()
        assert not res.ok


def test_bm25_tf_monotonicity(spark, tmp_path):
    """BM25 law: at fixed document length, score is strictly increasing
    in term frequency (the saturation curve rises toward k1+1)."""
    import pandas as pd

    from master_airflow_spark.operators.retrieval import bm25_lite_ranking

    rows = []
    for k in range(1, 6):  # k 'spark' tokens padded to dl=10
        text = " ".join(["spark"] * k + ["filler"] * (10 - k))
        rows.append((k, text, "en", "s", len(text)))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{tmp_path}/documents.parquet")
    scores = {
        r.doc_id: r.bm25 for r in bm25_lite_ranking(spark, str(tmp_path)).collect()
    }
    assert all(scores[k] < scores[k + 1] for k in range(1, 5))


def test_priority_sample_prefers_heavy_weights(spark, tmp_path):
    """Priority sampling q = w/u with u in (0,1]: a document whose
    weight exceeds the sum of all others times 1/min(u) is ALWAYS in
    the top-k — weight-proportionality pinned deterministically (no
    statistical flake: u >= 2^-40 bounds every competitor's priority)."""
    import pandas as pd

    from master_airflow_spark.operators.sampling import weighted_sample_per_source

    rows = [(0, "x", "en", "s", 2**45)]  # heavier than any 1/u can lift
    rows += [(i, "x", "en", "s", 1) for i in range(1, 30)]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{tmp_path}/documents.parquet")
    picked = {
        r.doc_id for r in weighted_sample_per_source(spark, str(tmp_path)).collect()
    }
    assert 0 in picked and len(picked) == 5


def test_approx_percentiles_cross_engine(spark, sf_dir):
    """approx_percentiles is rows-only at the driver (sketch estimates
    are engine-specific); pin the ESTIMATES here against DuckDB's exact
    continuous quantiles within 2% relative tolerance — with accuracy
    10000 on sf-sized groups the KLL-style sketch is near-exact."""
    from master_airflow_spark.operators.subqueries import approx_percentiles
    from master_airflow_spark.testing import duckdb_connection

    got = {
        r.o_orderstatus: (r.p25, r.p50, r.p75)
        for r in approx_percentiles(spark, sf_dir).collect()
    }
    con = duckdb_connection(sf_dir)
    exact = {
        r[0]: r[1:]
        for r in con.execute(
            "SELECT o_orderstatus,"
            " quantile_cont(o_totalprice, 0.25),"
            " quantile_cont(o_totalprice, 0.50),"
            " quantile_cont(o_totalprice, 0.75)"
            " FROM orders GROUP BY o_orderstatus"
        ).fetchall()
    }
    con.close()
    assert set(got) == set(exact)
    for status, (e25, e50, e75) in exact.items():
        for est, ex in zip(got[status], (e25, e50, e75)):
            assert abs(est - ex) <= 0.02 * abs(ex), (status, est, ex)


def test_approx_distinct_cross_engine(spark, sf_dir):
    """approx_distinct_users (HLL++, rsd=0.01) pinned against the exact
    distinct count per event type — with rsd=0.01 the estimate must sit
    within ~3% (3σ) of truth, same cross-engine posture as the
    DataSketches HLL pin above."""
    from master_airflow_spark.operators.relational import approx_distinct_users
    from master_airflow_spark.testing import duckdb_connection

    got = {
        r.event_type: r.approx_users for r in approx_distinct_users(spark, sf_dir).collect()
    }
    con = duckdb_connection(sf_dir)
    exact = dict(
        con.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY event_type"
        ).fetchall()
    )
    con.close()
    assert set(got) == set(exact)
    for et, ex in exact.items():
        assert abs(got[et] - ex) <= max(0.03 * ex, 3), (et, got[et], ex)


def test_incremental_minhash_consistency_with_full(spark, sf_dir):
    """Cross-operator law: the incremental (index x incoming) pair set
    must equal the full self-join's pairs restricted to mixed parity —
    same signatures, same bands, same threshold, only the candidate
    sides differ."""
    from master_airflow_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_near_dup,
    )

    full = {
        frozenset((r.a_id, r.b_id))
        for r in minhash_near_dup(spark, sf_dir).collect()
        if (r.a_id % 2) != (r.b_id % 2)
    }
    from master_airflow_spark import registry

    registry.release_caches()
    inc = {
        frozenset((r.index_id, r.new_id))
        for r in incremental_minhash_dedup(spark, sf_dir).collect()
    }
    assert inc == full


def test_fuzzy_pairs_deletion_neighborhood_lossless(spark, tmp_path):
    """FastSS blocking (round 12): deletion-neighborhood candidates
    must be LOSSLESS for Levenshtein <= 1 — equal names, substitution,
    insertion/deletion (length-differing) pairs all surface; a
    distance-2 pair sharing a deletion variant is generated as a
    candidate but filtered by the exact verify; same-nation blocking
    still applies."""
    from master_airflow_spark.operators.relational import fuzzy_customer_pairs

    rows = [
        (1, "alpha", 0),    # equal to 2 (distance 0)
        (2, "alpha", 0),
        (3, "alphb", 0),    # substitution of "alpha" (distance 1)
        (4, "alpha!", 0),   # insertion at end vs "alpha" (distance 1)
        (5, "lpha", 0),     # deletion at front vs "alpha" (distance 1)
        (6, "alxhb", 0),    # distance 2 from "alpha"; shares del-variants with 3
        (7, "alpha", 1),    # other nation: blocked from all pair output
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long"
    )
    d = tmp_path / "sfX"
    d.mkdir()
    df.write.parquet(str(d / "customer.parquet"))

    got = {
        (r.a_key, r.b_key): r.edit_dist
        for r in fuzzy_customer_pairs(spark, str(d)).collect()
    }
    assert got == {
        (1, 2): 0,
        (1, 3): 1,
        (2, 3): 1,
        (1, 4): 1,
        (2, 4): 1,
        (1, 5): 1,
        (2, 5): 1,
        (3, 6): 1,  # alphb -> alxhb is one substitution
    }
