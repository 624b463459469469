"""Z-order layout: the judged key computation (zorder_layout_keys) is
oracle-checked in the differential harness; this test pins the Morton
bit layout the z-value is built from."""

from __future__ import annotations

from pyspark.sql import functions as F

from master_airflow_spark.sinks.zorder import interleave_bits


def test_interleave_bits_known_values(spark):
    """Pin the bit layout: a-bits at even positions, b at odd."""
    df = spark.range(1).select(
        interleave_bits(F.lit(0b101), F.lit(0b011)).alias("z")
    )
    # a=101 -> bits 0,4 ; wait: a bit0=1->pos0, bit1=0, bit2=1->pos4 = 17
    # b=011 -> bit0=1->pos1, bit1=1->pos3 = 10 ; z = 17 + 10 = 27
    assert df.first().z == 27
