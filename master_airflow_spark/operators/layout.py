"""Data-layout operators: the judged query surface of sinks/zorder.py
(Morton-curve clustering for multi-dimensional file skipping).

The z-value is pure integer bit arithmetic on min-max-normalized keys,
so the WHOLE layout computation — bounds, normalization, 16-bit
interleave, file-bucket routing — replays exactly in DuckDB and
carries an exact oracle. The write path (range partition + sort) is
covered by tests/test_zorder.py's file-footprint measurement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.registry import register
from master_airflow_spark.sinks.zorder import Z_BITS, with_zvalue

N_FILE_BUCKETS_LOG2 = 4  # 16 route buckets = top 4 z-value bits


def _sql_norm(col: str, lo: str, hi: str) -> str:
    return f"((({col}) - ({lo})) * {(1 << Z_BITS) - 1}) // greatest(({hi}) - ({lo}), 1)"


def _sql_interleave(a: str, b: str) -> str:
    terms = [
        f"((({a}) >> {i}) & 1) * {1 << (2 * i)} + ((({b}) >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(Z_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


_ZORDER_ORACLE = f"""
WITH src AS (
    SELECT o_orderkey,
           CAST(o_custkey AS BIGINT) AS ka,
           CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS kb
    FROM orders
),
bounds AS (SELECT min(ka) AS a_lo, max(ka) AS a_hi,
                  min(kb) AS b_lo, max(kb) AS b_hi FROM src),
norm AS (
    SELECT s.o_orderkey,
           {_sql_norm('s.ka', 'b.a_lo', 'b.a_hi')} AS na,
           {_sql_norm('s.kb', 'b.b_lo', 'b.b_hi')} AS nb
    FROM src s, bounds b
)
SELECT o_orderkey,
       {_sql_interleave('na', 'nb')} AS zvalue,
       {_sql_interleave('na', 'nb')} >> {2 * Z_BITS - N_FILE_BUCKETS_LOG2}
           AS file_bucket
FROM norm
"""


@register("zorder_layout_keys", oracle=_ZORDER_ORACLE, tags=("X32",))
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value + file-route bucket for every order, clustering
    on (o_custkey, order epoch-day) — the layout key an OPTIMIZE
    ZORDER pass sorts by so parquet min/max footers prune scans for
    predicates on EITHER dimension. The bounds aggregate is 4 longs
    (broadcast); everything else is per-row bit arithmetic in
    WholeStageCodegen — zero data-sized shuffles to COMPUTE the
    layout; a writer would add the one range exchange on zvalue.
    file_bucket = top 4 z bits = a 16-way file routing."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("long").alias("ka"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("kb"),
    )
    z = with_zvalue(o, "ka", "kb")
    return z.select(
        "o_orderkey",
        "zvalue",
        F.shiftright(F.col("zvalue"), 2 * Z_BITS - N_FILE_BUCKETS_LOG2).alias(
            "file_bucket"
        ),
    )
