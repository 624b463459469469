"""Source formats beyond parquet: an ORC round-trip with pushdown."""

from __future__ import annotations

from master_airflow_spark.catalog import load_table


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the second Spark-native columnar format (predicate
    pushdown + column pruning like parquet); a lakehouse migration
    must read either. Values must round-trip bit-exactly."""
    p = str(tmp_path / "o")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    src.write.orc(p)
    back = spark.read.orc(p)
    assert back.schema == src.schema
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))
    # pushdown reaches the ORC scan like parquet
    plan = (
        back.where("o_totalprice > 100000")
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan
