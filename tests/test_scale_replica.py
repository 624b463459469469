"""The replica builder of scripts/scale_probe.py at x2 of the test scale
factor: row counts, disjoint copy keys, foreign keys that still join
copy to copy, a fact-dimension query that matches its oracle on the
replica, reproducible salted embeddings, and the reuse marker."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from master_airflow_spark import registry
from master_airflow_spark.catalog import TABLES, table_fingerprint, table_path
from master_airflow_spark.testing import duckdb_connection, run_one

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "scale_probe_under_test", os.path.join(ROOT, "scripts", "scale_probe.py")
)
scale = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scale)


@pytest.fixture(scope="module")
def replica(spark, sf_dir, tmp_path_factory) -> str:
    return scale.build_replica(spark, sf_dir, str(tmp_path_factory.mktemp("scale")), 2)


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


def test_shifted_tables_double_and_dims_stay(sf_dir, replica):
    base, rep = duckdb_connection(sf_dir), duckdb_connection(replica)
    for t in TABLES:
        n = _one(base, f"SELECT count(*) FROM {t}")
        assert n > 0, t
        if t in scale.SHIFT_KEYS:
            assert _one(rep, f"SELECT count(*) FROM {t}") == 2 * n, t
    for t in ("nation", "region"):
        rep.execute(f"CREATE TABLE base_{t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        for a, b in ((t, f"base_{t}"), (f"base_{t}", t)):
            assert _one(rep, f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})") == 0


def test_copy_key_ranges_are_disjoint(sf_dir, replica):
    """Every shifted key splits the replica at the base's max: the base
    copy at or below it, the shifted copy above it, each as many rows as
    the base."""
    base, rep = duckdb_connection(sf_dir), duckdb_connection(replica)
    for t, keys in scale.SHIFT_KEYS.items():
        n = _one(base, f"SELECT count(*) FROM {t}")
        for c in keys:
            hi = _one(base, f"SELECT max({c}) FROM {t}")
            assert _one(rep, f"SELECT count(*) FROM {t} WHERE {c} <= {hi}") == n, (t, c)
            assert _one(rep, f"SELECT count(*) FROM {t} WHERE {c} > {hi}") == n, (t, c)


@pytest.mark.parametrize(
    "fact, dim, on",
    [
        ("orders", "customer", "o_custkey = c_custkey"),
        ("lineitem", "orders", "l_orderkey = o_orderkey"),
        ("lineitem", "part", "l_partkey = p_partkey"),
        ("lineitem", "supplier", "l_suppkey = s_suppkey"),
    ],
)
def test_foreign_keys_join_within_each_copy(sf_dir, replica, fact, dim, on):
    """One key shift for all tables: each copy's facts find their own
    copy's dimension rows, so a replica join grows with the copies. A
    per-table shift would leave the shifted copy's joins empty."""
    sql = f"SELECT count(*) FROM {fact} JOIN {dim} ON {on}"
    n = _one(duckdb_connection(sf_dir), sql)
    assert n > 0
    assert _one(duckdb_connection(replica), sql) == 2 * n


def test_fact_dimension_query_matches_oracle_on_replica(spark, replica):
    registry._ensure_loaded()
    res = run_one(spark, replica, "q3_shipping_priority")
    assert res.spark_rows > 0
    assert res.ok, res.mismatches


def _vectors(sf: str) -> tuple[np.ndarray, np.ndarray]:
    tbl = pq.read_table(table_path(sf, "embeddings")).sort_by("vec_id")
    return tbl.column("vec_id").to_numpy(), np.stack(tbl.column("embedding").to_numpy(zero_copy_only=False))


def test_salted_embeddings_are_reproducible_and_novel(spark, sf_dir, replica, tmp_path):
    again = scale.build_replica(spark, sf_dir, str(tmp_path), 2)
    ids, vecs = _vectors(replica)
    assert pq.read_table(table_path(again, "embeddings")).equals(
        pq.read_table(table_path(replica, "embeddings"))
    )
    n = len(ids) // 2
    base_ids, base = _vectors(sf_dir)
    assert (ids[:n] == base_ids).all() and (vecs[:n] == base).all()
    assert (vecs[n:] != base).any(axis=1).all()
    np.testing.assert_allclose(
        np.linalg.norm(vecs[n:], axis=1), np.linalg.norm(base, axis=1), rtol=1e-5
    )


def test_unsalted_embedding_copies_are_identical(sf_dir):
    tbl = scale._embeddings(sf_dir, 2, 10**9, salted=False)
    vecs = tbl.column("embedding").to_pylist()
    n = len(vecs) // 2
    assert vecs[:n] == vecs[n:]


def test_replica_is_reused_only_under_its_marker(spark, sf_dir, replica, tmp_path):
    li = table_path(replica, "lineitem")
    before = table_fingerprint(li)
    assert scale.build_replica(spark, sf_dir, os.path.dirname(replica), 2) == replica
    assert table_fingerprint(li) == before
    # a dir whose marker does not match (here: a half-built one) is rebuilt
    dst = scale.build_replica(spark, sf_dir, str(tmp_path), 2)
    with open(os.path.join(dst, "_REPLICA"), "w") as f:
        f.write("interrupted")
    stale = table_fingerprint(table_path(dst, "lineitem"))
    assert scale.build_replica(spark, sf_dir, str(tmp_path), 2) == dst
    assert table_fingerprint(table_path(dst, "lineitem")) != stale
