"""Top-k / argmax operators — the reference's entire analytics surface.

The reference serves exactly one analytical question two ways:
- today's highest & lowest price (Mongo API: ``find_one`` with a date
  filter + sort, reference ``api/mongo/main.py:68-77``) — T1/T2/T4+F1;
- all-time highest & lowest (Postgres API: ``SELECT * FROM gas_prices
  ORDER BY price DESC|ASC LIMIT 1``, ``api/postgres/api.py:22-27``) — T3.

Recast on the driver's star schema: ``l_extendedprice`` over
``lineitem`` plays the price column, ``CAST(l_shipdate AS DATE)`` the
date. The reference's ``find_one``/``LIMIT 1`` is tie-nondeterministic
(SURVEY.md §2.4); every query here adds a total-order tiebreaker.

Scale notes: both top-1 queries compile to a SINGLE hash aggregate
over one scan — argmax/argmin encoded as ``max(struct(...))`` with
sign-flipped tiebreaker fields, so each partition reduces to two
16-byte structs map-side and the exchange carries one row per
partition. No global sort, no scalar-subquery job, no second scan:
the same plan shape at sf0.001 and at 100 TB. ("Today" rides in the
same aggregate as the leading struct field — the row with the maximal
(ship_date, price, …) IS today's highest, so the latest-date filter
costs nothing extra.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.registry import register


def _argmax_struct(*, with_date: bool, lowest: bool) -> F.Column:
    """Lexicographic max-struct encoding of the reference's ORDER BY:
    price DESC (ASC for lowest — encoded by negating the double, an
    exact monotone flip), then l_orderkey ASC, l_linenumber ASC (both
    negated so the *max* struct carries the *min* tiebreakers). An
    optional leading ship-date field makes the same aggregate pick the
    extreme within the latest day only."""
    price = F.col("l_extendedprice")
    fields = [
        ((-price) if lowest else price).alias("p"),
        (-F.col("l_orderkey")).alias("no"),
        (-F.col("l_linenumber")).alias("nl"),
    ]
    if with_date:
        fields.insert(0, F.to_date("l_shipdate").alias("d"))
    return F.max(F.struct(*fields))


def _decode(label: str, src: str, lowest: bool) -> F.Column:
    price = F.col(f"{src}.p")
    return F.struct(
        F.lit(label).alias("which"),
        ((-price) if lowest else price).alias("price"),
        (-F.col(f"{src}.no")).alias("l_orderkey"),
        (-F.col(f"{src}.nl")).alias("l_linenumber"),
    )


def _high_low(df: DataFrame, with_date: bool) -> DataFrame:
    """Highest & lowest price row (optionally within the latest ship
    date) in ONE aggregate over one scan, then unpacked to the
    reference's two labeled rows."""
    agg = df.agg(
        _argmax_struct(with_date=with_date, lowest=False).alias("hi"),
        _argmax_struct(with_date=with_date, lowest=True).alias("lo"),
    )
    return agg.select(
        F.explode(
            F.array(_decode("highest", "hi", False), _decode("lowest", "lo", True))
        ).alias("r")
    ).select("r.*")


@register(
    "top1_price_today",
    oracle="""
WITH today AS (SELECT max(CAST(l_shipdate AS DATE)) AS d FROM lineitem),
scoped AS (
  SELECT l.* FROM lineitem l, today
  WHERE l.l_shipdate >= CAST(today.d AS TIMESTAMP)
    AND l.l_shipdate <  CAST(today.d AS TIMESTAMP) + INTERVAL 1 DAY
)
(SELECT 'highest' AS which, l_extendedprice AS price, l_orderkey, l_linenumber
   FROM scoped ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1)
UNION ALL
(SELECT 'lowest' AS which, l_extendedprice AS price, l_orderkey, l_linenumber
   FROM scoped ORDER BY l_extendedprice ASC, l_orderkey, l_linenumber LIMIT 1)
""",
    tags=("T1", "T2", "T4", "F1", "P11"),
)
def top1_price_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's highest & lowest price row (reference api/mongo/main.py:63-77).
    The [today, today+1d) scoping (Mongo API's half-open date filter)
    is folded into the argmax as the leading struct field."""
    return _high_low(load_table(spark, sf_dir, "lineitem"), with_date=True)


@register(
    "top1_price_alltime",
    oracle="""
(SELECT 'highest' AS which, l_extendedprice AS price, l_orderkey, l_linenumber
   FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1)
UNION ALL
(SELECT 'lowest' AS which, l_extendedprice AS price, l_orderkey, l_linenumber
   FROM lineitem ORDER BY l_extendedprice ASC, l_orderkey, l_linenumber LIMIT 1)
""",
    tags=("T3", "T4"),
)
def top1_price_alltime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time highest & lowest (reference api/postgres/api.py:16-33)."""
    return _high_low(load_table(spark, sf_dir, "lineitem"), with_date=False)


@register(
    "daily_high_low",
    oracle="""
SELECT CAST(l_shipdate AS DATE) AS ship_date,
       max(l_extendedprice) AS high_price,
       min(l_extendedprice) AS low_price,
       count(*) AS n_rows
FROM lineitem
GROUP BY 1
""",
    tags=("T1", "T2", "X5"),
)
def daily_high_low(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day high/low — the serving query generalized to every day in
    one single-pass hash aggregate (vs the reference's two sorted scans
    per request). min/max are order-independent, so no decimal cast is
    needed for hash-stability."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("ship_date"))
        .agg(
            F.max("l_extendedprice").alias("high_price"),
            F.min("l_extendedprice").alias("low_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() query: today's high/low over sf0.001 (driver smoke check)."""
    return top1_price_today(spark, sf_dir)
