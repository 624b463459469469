"""Differential tests: every registered query vs its DuckDB oracle.

This is the same comparison the driver performs (row-count + schema +
order-insensitive values), run at sf0.001 for speed. Queries without an
oracle get a rows-only sanity check here (dedicated semantic tests live
in their own test modules).
"""

from __future__ import annotations

import pytest

from master_airflow_spark import registry
from master_airflow_spark.testing import run_one

registry._ensure_loaded()
ALL = sorted(registry.REGISTRY)


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, sf_dir, name):
    res = run_one(spark, sf_dir, name)
    assert res.ok, f"{name}: " + "; ".join(res.mismatches)
    if registry.REGISTRY[name].oracle is None:
        assert res.spark_rows >= 0


def test_duckdb_connection_reads_partitioned_table_dir(spark, sf_dir, tmp_path):
    """A partitionBy table directory (Spark parts nested under k=v/)
    opens through the oracle harness with every row and its partition
    column, next to tables that stay single files."""
    import os

    from master_airflow_spark.catalog import TABLES, load_table, table_path
    from master_airflow_spark.testing import duckdb_connection

    out = str(tmp_path)
    for name in TABLES:
        if name != "nation":
            os.symlink(table_path(sf_dir, name), table_path(out, name))
    cols = ("n_nationkey", "n_name", "n_regionkey")
    nation = load_table(spark, sf_dir, "nation").select(*cols)
    nation.write.partitionBy("n_regionkey").parquet(table_path(out, "nation"))
    want = sorted(tuple(r) for r in nation.collect())
    con = duckdb_connection(out)
    try:
        got = sorted(con.execute(f"SELECT {', '.join(cols)} FROM nation").fetchall())
        n_region = con.execute("SELECT count(*) FROM region").fetchone()[0]
    finally:
        con.close()
    assert got == want and len(want) == 25
    assert n_region == 5
