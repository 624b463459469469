"""The fingerprinted schema cache behind catalog.load_table.

A cache hit must launch no Spark job and must return exactly what a
fresh ``spark.read.parquet`` inference would: after a rewrite of the
table, on a ``partitionBy`` layout, and under a flipped inference conf.
A missing table still raises.
"""

from __future__ import annotations

import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from master_airflow_spark import catalog
from master_airflow_spark.catalog import load_table, table_path


def _jobs_launched(spark, fn):
    """(fn's result, number of Spark jobs fn launched), counted through
    the status tracker under a job group of its own."""
    sc = spark.sparkContext
    group, flush = (f"catalog-test-{uuid.uuid4().hex}" for _ in range(2))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        # The tracker is fed by the listener bus, in event order: once a
        # later job of another group is visible, fn's jobs are too.
        sc.setJobGroup(flush, flush)
        sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup(flush):
            assert time.monotonic() < deadline, "status tracker never saw the flush job"
            time.sleep(0.05)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_launches_no_job_and_matches_inference(spark, tmp_path):
    pq.write_table(
        pa.table({"o_orderkey": [1, 2, 3], "o_comment": ["a", "b", "c"]}),
        table_path(str(tmp_path), "orders"),
    )
    _, first_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    df, second_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first_jobs >= 1  # the inferring read is a job the counter sees
    assert second_jobs == 0
    fresh = spark.read.parquet(table_path(str(tmp_path), "orders"))
    assert df.schema == fresh.schema
    assert _rows(df) == _rows(fresh)


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    spark.createDataFrame([(1, "a")], "o_orderkey long, o_comment string").write.parquet(
        table_path(sf, "orders")
    )
    assert load_table(spark, sf, "orders").columns == ["o_orderkey", "o_comment"]
    spark.createDataFrame(
        [(1, "a", 2.5)], "o_orderkey long, o_comment string, o_totalprice double"
    ).write.mode("overwrite").parquet(table_path(sf, "orders"))
    df = load_table(spark, sf, "orders")
    assert df.columns == ["o_orderkey", "o_comment", "o_totalprice"]
    assert _rows(df) == [(1, "a", 2.5)]


def test_partitioned_replica_reads_like_inference(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "lineitem")
    spark.createDataFrame(
        [(i, i % 3, f"c{i}") for i in range(12)], "l_orderkey long, k int, l_comment string"
    ).write.partitionBy("k").parquet(path)
    load_table(spark, sf, "lineitem")  # populates the cache
    cached, jobs = _jobs_launched(spark, lambda: load_table(spark, sf, "lineitem"))
    assert jobs == 0
    fresh = spark.read.parquet(path)
    assert cached.schema == fresh.schema
    assert _rows(cached) == _rows(fresh)
    assert _rows(cached.where("k = 1")) == _rows(fresh.where("k = 1"))


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"p_partkey": [1], "p_name": pa.array([b"bolt"], pa.binary())}),
        table_path(sf, "part"),
    )
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(load_table(spark, sf, "part").dtypes)["p_name"] == "binary"
        spark.conf.set(key, "true")
        df = load_table(spark, sf, "part")
        assert dict(df.dtypes)["p_name"] == "string"
        assert df.collect()[0]["p_name"] == "bolt"
        spark.conf.set(key, "false")
        assert dict(load_table(spark, sf, "part").dtypes)["p_name"] == "binary"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_missing_table_raises_and_is_not_cached(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "orders")
    assert table_path(str(tmp_path), "orders") not in catalog._SCHEMA_CACHE


def test_concurrent_loads_agree_with_inference(spark, tmp_path):
    """The cache is shared by the HTTP server's request threads: loads
    racing on a miss may infer twice, but every one returns the
    inferred schema and the entry left behind is the current one."""
    sf = str(tmp_path)
    for name, col in (("orders", "o_orderkey"), ("customer", "c_custkey")):
        pq.write_table(pa.table({col: [1, 2], "x": ["a", "b"]}), table_path(sf, name))
    expected = {n: spark.read.parquet(table_path(sf, n)).schema for n in ("orders", "customer")}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [
                pool.submit(lambda n=n: (n, load_table(spark, sf, n).schema))
                for n in ("orders", "customer") * 16
            ]
            results = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert all(schema == expected[n] for n, schema in results)
    for n in ("orders", "customer"):
        path = table_path(sf, n)
        assert catalog._SCHEMA_CACHE[path][1] == expected[n]
        assert catalog._SCHEMA_CACHE[path][0] == catalog._schema_key(spark, path)
