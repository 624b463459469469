"""Salting preserves semantics: salted aggregate == unsalted."""

from __future__ import annotations

import pyspark.sql.functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.operators.skew import salted_agg_counts


def test_salted_agg_equals_plain(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_agg_counts(li, "l_returnflag", "l_extendedprice", n_salts=8)
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("total"),
        )
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_spreads_hot_key(spark):
    """A single hot key must occupy n_salts distinct salt values."""
    from master_airflow_spark.operators.skew import with_salt

    hot = spark.range(0, 10_000).select(
        F.lit("HOT").alias("k"), F.col("id").alias("v")
    )
    n = (
        with_salt(hot, "k", 16)
        .select("__salt")
        .distinct()
        .count()
    )
    assert n == 16