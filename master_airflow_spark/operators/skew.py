"""Skew mitigation — salting utilities (engine perf posture: "skewed
keys → salting or AQE skew-join").

AQE's skew-join splitting (on in this engine, session.py) handles
skewed SHUFFLE PARTITIONS, joins included, automatically; salting is
the manual tool for what AQE can't fix: a single hot KEY in an
aggregation whose per-key state is expensive (two-stage salted
aggregate: spread the hot key over N sub-keys, partial-aggregate,
then collapse).

The transformation is semantics-preserving; tests/test_skew.py pins
equality against the unsalted form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, key: str, n_salts: int) -> DataFrame:
    """Deterministic salt derived from row content (a hash of all
    columns), not rand(): reruns produce identical partitioning."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    return df.withColumn("__salt", salt)


def salted_agg_counts(df: DataFrame, key: str, value: str, n_salts: int = 16) -> DataFrame:
    """Two-stage aggregate for hot keys: stage 1 aggregates on
    (key, salt) — the hot key's load spreads across n_salts reducers —
    stage 2 collapses the salted partials. Decimal sums keep stage-2
    recombination exact, so salting is invisible in the result."""
    stage1 = (
        with_salt(df, key, n_salts)
        .groupBy(key, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(value).cast("decimal(28,4)")).alias("__sum"),
        )
    )
    return stage1.groupBy(key).agg(
        F.sum("__n").alias("n"),
        F.sum("__sum").cast("double").alias("total"),
    )


def _register_salted_query() -> None:
    """Registered here (not at module top) so the utilities above stay
    import-light for library users."""
    from pyspark.sql import SparkSession

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.registry import register

    @register(
        "salted_hot_key_agg",
        oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total
FROM events
GROUP BY event_type
""",
        tags=("X5",),
    )
    def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hot-key aggregation via two-stage salting: the events table
        has only ~5 distinct event types, so a plain groupBy lands the
        whole table on 5 reducers no matter how many executors exist —
        the canonical skew case. Stage 1 spreads each key over 16
        content-derived salts (80 reducers of work), stage 2 collapses
        the partials; decimal sums make the recombination exact, so
        the result is bit-identical to the unsalted oracle."""
        return salted_agg_counts(
            load_table(spark, sf_dir, "events").select("event_type", "value"),
            "event_type",
            "value",
        )


_register_salted_query()


def _register_skew_profile() -> None:
    from pyspark.sql import SparkSession

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.registry import register

    @register(
        "skew_key_profile",
        oracle="""
WITH per_key AS (
    SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
tot AS (
    SELECT CAST(SUM(cnt) AS DOUBLE) AS n_rows,
           CAST(count(*) AS DOUBLE) AS n_keys,
           CAST(max(cnt) AS DOUBLE) AS max_cnt
    FROM per_key
)
SELECT key, cnt,
       CAST(cnt AS DOUBLE) / n_rows AS share,
       max_cnt / (n_rows / n_keys) AS skew_factor,
       rn
FROM (SELECT *, row_number() OVER (ORDER BY cnt DESC, key) AS rn FROM per_key)
CROSS JOIN tot
WHERE rn <= 10
""",
        tags=("X5", "diagnostics"),
    )
    def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Join-key skew diagnosis — the measurement that decides
        whether a key needs salting (salted_hot_key_agg) or AQE skew
        handling BEFORE the join melts a reducer: per-key row counts on
        the prospective join key, the top-10 heaviest keys with their
        row share, and the corpus-wide skew factor (max key count over
        mean key count; ~1 = uniform, ≫1 = salt it). One hash
        aggregate plus a 10-row top-k — the top-k is orderBy().limit()
        (TakeOrderedAndProject: per-partition top-10 then a 10-row
        merge, never a global row_number window that would funnel the
        whole per-key frame through one partition at 10⁹ keys), rank
        numbers are assigned on the surviving 10-row frame, and the
        scalar stats collapse to a broadcast 1-row frame. Exact
        integer counts + fixed-order double division, so DuckDB
        replays it bit-for-bit."""
        per_key = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_suppkey").alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        tot = per_key.agg(
            F.sum("cnt").cast("double").alias("n_rows"),
            F.count(F.lit(1)).cast("double").alias("n_keys"),
            F.max("cnt").cast("double").alias("max_cnt"),
        )
        from pyspark.sql import Window

        top10 = per_key.orderBy(F.col("cnt").desc(), "key").limit(10)
        w = Window.orderBy(F.col("cnt").desc(), "key")  # 10-row frame
        return (
            top10.withColumn("rn", F.row_number().over(w))
            .join(F.broadcast(tot))
            .select(
                "key",
                "cnt",
                (F.col("cnt").cast("double") / F.col("n_rows")).alias("share"),
                (F.col("max_cnt") / (F.col("n_rows") / F.col("n_keys"))).alias(
                    "skew_factor"
                ),
                "rn",
            )
        )


_register_skew_profile()
