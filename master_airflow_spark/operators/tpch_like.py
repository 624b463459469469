"""TPC-H-shaped analytical queries adapted to the driver's star schema
— the optimizer-stress set: multi-join reordering (Q3/Q7 shapes),
conditional aggregation with ratio output (Q14), and disjunctive
multi-predicate pushdown (Q19).

All money/quantity sums follow the exactness recipes in
functions/exact.py. Round 7 moved them from the decimal path to the
scaled-long fast path (exact integer cents; Spark's decimal multiply
is per-row java.math.BigDecimal with no compact fast path — measured
~1.5x the whole-query cost on the 600k-row aggregates); the decimal
helpers remain the documented wide-magnitude fallback. Every LIMIT
carries a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import (
    FACT_BROADCAST_ORDERS_BYTES,
    broadcast_if,
    load_table,
)
from master_airflow_spark.functions.exact import (
    cents,
    lavg_money,
    lsum_money,
    lsum_scaled,
    sql_cents,
    sql_lsum_money,
)
from master_airflow_spark.registry import register

# revenue term price*(1-disc) in exact scaled-long form (scale 100^2)
_REV_C = f"{sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})"

# q18 mid-scale band (r16): broadcast-hint the HAVING-filtered order
# aggregate — whose ~1.5% selectivity Catalyst/AQE cannot see — only
# while MIN <= table_bytes(orders) < MAX (half-open). Below MIN
# Catalyst broadcasts the orders side itself (under the default 10 MB
# autoBroadcastJoinThreshold), and the 10-16 MB sub-band keeps the
# exchange plan on purpose. From MAX up the aggregate's WORST-case
# cardinality is no longer a safe broadcast relation. See q18's
# docstring for the sf0.1/x50 measurements behind both edges.
_Q18_AGG_BROADCAST_MIN_ORDERS = 16 << 20
_Q18_AGG_BROADCAST_MAX_ORDERS = 256 << 20


def _rev_c() -> F.Column:
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def _revenue(alias: str = "revenue") -> F.Column:
    return lsum_money(_rev_c(), 2, alias)


@register(
    "q3_shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {sql_lsum_money(_REV_C, 2)} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15'
  AND l.l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    tags=("X1", "X5", "T3"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 unshipped BUILDING-segment orders by revenue.
    Both date predicates push to their scans; the segment filter prunes
    customers before the fact join; TakeOrderedAndProject caps the
    sorted output at 10 rows."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue())
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS INT) AS ship_year,
       {sql_lsum_money(_REV_C, 2)} AS volume
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer c  ON c.c_custkey = o.o_custkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, year(l.l_shipdate)
""",
    tags=("X1", "X5", "X14"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: cross-border trade volume per (customer nation,
    supplier nation, year). Nation joins broadcast twice under
    different aliases; the inequality predicate lands above them.

    Exchange sizing (round-9, r8 verdict #4): the lineitem⋈orders
    fact-fact shuffle is AQE-advisory-sized via the session's
    coalescePartitions.initialPartitionNum (8× threads; session.py) —
    at 32 fixed reduce partitions the x50 replica paged (~1.16× over
    linear marginal rate), while AQE sizing lets the reduce side grow
    with data volume: measured x50 6.3s → 5.0s and the x10→x50
    marginal rate drops to 2.4× over 5× rows. sf0.1/x10 neutral
    (parallelismFirst coalesces small shuffles back to thread
    count).

    Round-15 note: a snowflake fold (nation aliases attached to the
    customer/supplier legs, 5 fact probes → 3) was built and measured
    at sf0.1 — interleaved prepared-plan A/B came out SLOWER (0.87 →
    0.92 min-of-6): the fold deepens the serialized broadcast-build
    chain (cn must finish before the c-fold's own broadcast starts),
    and at bench SF the saved probes are worth less than the extra
    AQE broadcast round. Kept the flat shape; the fact-side exchange
    bytes are identical either way at scale.

    Round-15 pre-exchange projection (guide §2.3 "narrower types" /
    "project before the exchange"): the lineitem leg of the fact-fact
    shuffle computes the scaled-long revenue cents and the ship year
    BEFORE the exchange — the shuffled row narrows from
    (price double, discount double, shipdate timestamp) 24 B to
    (rev long, ship_year int) 12 B of payload, 40 → 28 B/row with
    keys. Per-row cents/year math is integer-exact and position-
    independent, so the sum is bit-identical (re-certified vs the
    oracle at sf0.01/sf0.1). Measured x50 interleaved prepared-plan
    A/B: 4.53 → 4.02 s min-of-5, new side won all 5 pairs.

    Round-16 integer-keyed pre-aggregation (guide §2.3 "aggregate
    before you shuffle" + "narrower types"): the fact pipeline now
    aggregates on (c_nationkey, s_nationkey, ship_year) — three ints,
    ≤ 25×25×7 groups — and the nation-NAME broadcasts attach to that
    tiny aggregate AFTER the exchange, not to every fact row. Two of
    the five per-row broadcast probes disappear, and the partial-agg
    hash keys become ints instead of two UTF8String names (the event-
    log profile put the whole query inside one 912 ms-CPU single-task
    stage at sf0.1 — per-row probe+hash work IS the query). The
    final groupBy on names re-merges any (cnk,snk) pairs that shared
    a name, so the result is identical even under duplicate nation
    names; the name inequality filter runs post-attach exactly as
    before, and the sum stays exact: per-key partial sums are guarded
    longs (lsum_scaled), merged by the same lsum_money that produced
    the old single-level sum — integer addition is associative, so
    the double is bit-identical (collect-compared at sf0.1 and
    re-certified vs the oracle at sf0.01/sf0.1). Interleaved
    prepared-plan A/B at sf0.1: 1.064→0.868 s min-of-8, B won 7/8
    pairs (second run 5/6; ~−15% both draws). At scale the agg
    exchange narrows further ((3 ints + long) vs (2 strings + int +
    long) per group) and the 4k-row name re-agg is noise."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        _rev_c().alias("rev"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    keyed = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .groupBy("c_nationkey", "s_nationkey", "ship_year")
        .agg(lsum_scaled(F.col("rev"), "rev_l"))
    )
    cn = F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")))
    sn = F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")))
    return (
        keyed.join(cn, F.col("cnk") == F.col("c_nationkey"))
        .join(sn, F.col("snk") == F.col("s_nationkey"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", "ship_year")
        .agg(lsum_money(F.col("rev_l"), 2, "volume"))
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
SELECT CAST(100.0 * ({sql_lsum_money(f"CASE WHEN p.p_type = 'PROMO' THEN {_REV_C} ELSE CAST(0 AS BIGINT) END", 2)})
            / ({sql_lsum_money(_REV_C, 2)})
        AS DOUBLE) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-02-01'
""",
    tags=("X1", "X5", "X15"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share for one month — conditional
    scaled-long aggregation with a final double ratio (each sum
    converts once to double, then two deterministic IEEE ops, in the
    identical order on both engines)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = _rev_c()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("long"))
    joined = li.join(p, p.p_partkey == li.l_partkey)
    return joined.agg(
        (F.lit(100.0) * lsum_money(promo, 2) / lsum_money(rev, 2)).alias(
            "promo_revenue_pct"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q19_disjunctive_filter",
    oracle=f"""
SELECT {sql_lsum_money(_REV_C, 2)} AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 40)
""",
    tags=("X1", "X5", "X15"),
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs across both join sides. Catalyst factors
    the common p_partkey join and pushes the per-side conjuncts it can
    derive (brand/size to part, quantity bounds to lineitem) — the
    disjunctive-pushdown stress case."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.where(cond).agg(
        lsum_money(_rev_c(), 2, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# -- Q2/Q4/Q5/Q10/Q12/Q18/Q22 shapes (round 3) -------------------------------
#
# The remaining classic optimizer stress shapes the driver's star schema
# can express: min-per-group join-back (Q2), EXISTS with a correlated
# inequality (Q4), a six-table co-located join (Q5), group-by over a
# three-way join with top-k (Q10), two-class conditional counts (Q12),
# HAVING over a child aggregate (Q18), and scalar-subquery + NOT EXISTS
# (Q22). Column substitutions (the driver schema has no partsupp /
# commitdate / shipmode / phone): unit price l_extendedprice/l_quantity
# plays ps_supplycost, shipment lateness (l_shipdate vs o_orderdate)
# plays the commit/receipt lag, o_orderpriority plays l_shipmode, and
# c_mktsegment plays the phone country code.


@register(
    "q2_min_cost_supplier",
    oracle=f"""
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           min(l_extendedprice / l_quantity) AS unit_price
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
best AS (
    SELECT l_partkey, min(unit_price) AS best_price FROM ps GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand, s.s_name, s.s_acctbal, s.s_suppkey,
       ps.unit_price AS best_unit_price
FROM ps
JOIN best ON best.l_partkey = ps.l_partkey AND ps.unit_price = best.best_price
JOIN part p ON p.p_partkey = ps.l_partkey
JOIN supplier s ON s.s_suppkey = ps.l_suppkey
WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_suppkey
LIMIT 50
""",
    tags=("X1", "X5", "X8", "T3"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each STANDARD mid-size part, the supplier(s)
    offering the minimum observed unit price. The correlated-min
    subquery compiles to a window MIN over the (part, supplier)
    aggregate — one shuffle keyed on l_partkey serves both the
    aggregate and the join-back, where the textbook plan would shuffle
    twice. Unit price is a single IEEE division and MIN is selection,
    not arithmetic — exact on both engines.

    Round-15 single-exchange rewrite (guide §2.4 "two operations keyed
    the same way can share one exchange"): written naively, the plan
    paid TWO exchanges — hashpartitioning(l_partkey, l_suppkey) for
    the aggregate, then hashpartitioning(l_partkey) for the window.
    The explicit repartition("l_partkey") satisfies BOTH (a hash
    partitioning on a subset of the grouping keys satisfies the
    aggregate's clustered distribution), so the agg and the window run
    on one exchange. Map-side partial agg is forfeited, but lineitem
    is orderkey-ordered, so a (partkey, suppkey) pair's ~4 lines are
    scattered across map partitions and partial MIN compressed almost
    nothing anyway. unit_price is projected before the exchange
    (§2.3): the shuffle carries (partkey, suppkey, up) instead of
    (partkey, suppkey, price, quantity). Same per-row IEEE division,
    MIN is selection — result identical (re-certified vs the oracle at
    sf0.01/sf0.1). Interleaved prepared-plan A/B: sf0.1 1.035→0.733 s
    min-of-6 (−30%); x50 4.75→3.53 s min-of-5 (−26%), all pairs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("up"),
    )
    ps = (
        li.repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("up").alias("unit_price"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("best_price", F.min("unit_price").over(w)).where(
        F.col("unit_price") == F.col("best_price")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
        )
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        best.join(p, p.p_partkey == best.l_partkey)
        .join(s, s.s_suppkey == best.l_suppkey)
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(50)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "s_acctbal",
            "s_suppkey",
            F.col("unit_price").alias("best_unit_price"),
        )
    )


@register(
    "q4_order_priority",
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
""",
    tags=("X2", "X5"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders per priority class with at least one lineitem
    shipped >60 days after the order date (the lateness EXISTS). The
    correlated inequality rides on the equi-join key, so it compiles to
    a LEFT SEMI hash join on l_orderkey — state-free and shuffle-
    minimal; the quarter filter pushes to the orders scan."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n.n_name AS nation,
       {sql_lsum_money(_REV_C, 2)} AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
    tags=("X1", "X5"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue from orders where the supplier is in the
    customer's own (ASIA) nation. The s_nationkey = c_nationkey leg
    makes the supplier join conditional on the fact row's customer —
    supplier/nation/region broadcast; the only shuffles are the two
    fact-side equi-joins and the final tiny aggregate.

    Round-15 restructure (guide §3.1): the ASIA nation⋈region fold is
    attached to CUSTOMER before any fact join — Catalyst will not
    reorder the join graph without CBO stats, and in the previous
    shape every non-ASIA order and lineitem row survived three joins
    before the region filter killed it. Pruning customers first drops
    ~4/5 of the fact stream at the orders attach (region split is
    uniform at every SF). The supplier probe keeps its conditional
    s_nationkey = c_nationkey leg, now against the pre-attached
    customer nation. Inner equi-joins + order-independent scaled-long
    sum → result-identical (re-certified at sf0.01/sf0.1). Measured at
    sf0.1, interleaved prepared-plan A/B, min-of-6: 0.559s → 0.523s
    (−6%); at x50+ the pruning applies to the c⋈o and o⋈li exchanges
    themselves (~4/5 of fact bytes never shuffle).

    Round-16 fact-probe + int-key aggregation (the q7/revenue_by_
    nation idiom, guide §3.1/§2.3): lineitem now STREAMS against the
    date-filtered, region-pruned (orders ⋈ customer-keys) build —
    the old left-deep chain let Catalyst make lineitem the broadcast
    build side at bench SF — and the n_name string no longer rides
    the fact legs at all: the aggregate keys on the c_nationkey int
    and the names broadcast onto the ≤25-row aggregate after the
    exchange (re-merged by name, so duplicate-name nations still
    aggregate identically; guarded-long partials merged by the same
    lsum_money — bit-identical, collect-compared + oracle-verified at
    three SFs). The o2 broadcast hint is size-gated on the orders
    parquet bytes (no extra job); past the gate both fact legs
    shuffle exactly as the r15 shape did. Interleaved prepared-plan
    A/B at sf0.1, two draws: min 0.965→0.771 / 0.841→0.680 (−20%),
    med −8%/−15%, B won 11/18 pairs."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_c().alias("rev")
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nk = F.broadcast(
        n.join(r, r.r_regionkey == n.n_regionkey).select("n_nationkey")
    )
    c2 = c.join(nk, F.col("n_nationkey") == c.c_nationkey).select(
        "c_custkey", "c_nationkey"
    )
    o2 = o.join(c2, o.o_custkey == c2.c_custkey).select("o_orderkey", "c_nationkey")
    o2 = broadcast_if(o2, sf_dir, "orders", 0, FACT_BROADCAST_ORDERS_BYTES)
    keyed = (
        li.join(o2, li.l_orderkey == o2.o_orderkey)
        .join(
            s,
            (s.s_suppkey == li.l_suppkey)
            & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("c_nationkey")
        .agg(lsum_scaled(F.col("rev"), "rev_l"))
    )
    names = F.broadcast(n.select("n_nationkey", "n_name"))
    return (
        keyed.join(names, names.n_nationkey == keyed.c_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(lsum_money(F.col("rev_l"), 2, "revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {sql_lsum_money(_REV_C, 2)} AS revenue,
       c.c_acctbal, n.n_name AS nation, c.c_mktsegment
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name, c.c_mktsegment
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("X1", "X5", "T3"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by revenue lost to returns in one
    quarter. Both filters push to their scans; the nation dim
    broadcasts; TakeOrderedAndProject caps the sorted output."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"), "c_mktsegment")
        .agg(_revenue())
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation", "c_mktsegment")
    )


@register(
    "q12_priority_shipping",
    oracle="""
SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY year(l.l_shipdate)
""",
    tags=("X1", "X5", "X15"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: two-class conditional counts per ship year
    (o_orderpriority plays l_shipmode). Integer counts — no float
    determinism concerns; one fact-fact shuffle join, one tiny agg.

    Round-15 pre-exchange projection (guide §2.3, the q7 pattern):
    both fact legs narrow BEFORE the join exchange — the query only
    ever consumes l_shipdate as year() and o_orderpriority as the
    high/low boolean, so the lineitem leg ships (l_orderkey,
    ship_year int) instead of a timestamp and the orders leg ships
    (o_orderkey, high boolean) instead of a ~10-byte string. Per-row
    year/isin math is position-independent — identical result
    (verified row-equal and re-certified vs the oracle at
    sf0.01/sf0.1). Interleaved prepared-plan A/B: x50 15/20 pairs
    faster across two sessions (min −5–10%), sf0.1 0.427→0.391 min."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.year("l_shipdate").cast("int").alias("ship_year")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("high"),
    )
    return (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy("ship_year")
        .agg(
            F.sum(F.when(F.col("high"), 1).otherwise(0)).alias(
                "high_priority_count"
            ),
            F.sum(F.when(~F.col("high"), 1).otherwise(0)).alias(
                "low_priority_count"
            ),
        )
    )


@register(
    "q18_large_orders",
    oracle=f"""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS DOUBLE) AS total_qty
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
HAVING SUM(CAST(round(l.l_quantity) AS BIGINT)) > 250
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    tags=("X1", "X5", "T3"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: orders whose total quantity exceeds 250 (~top 1%),
    with their customer. The HAVING filter runs on the exact decimal
    sum (identical on both engines), before the double cast; the
    child aggregate's key is the join key, so the customer join
    reuses the aggregate's partitioning.

    Round-16 mid-scale build-side flip (guide §3.1 "broadcast the side
    that fits"): Catalyst can't see that the HAVING filter keeps ~1.5%
    of orders (aggregate+filter defeats size estimation, and AQE's
    runtime stats measure the agg exchange's INPUT, pre-final-agg/
    filter), so past the orders auto-broadcast size both fact sides
    shuffle. Inside the half-open [16 MB, 256 MB) orders-bytes band the
    filtered aggregate gets an explicit broadcast hint instead: orders
    never shuffles (x50 measured: 2.01 → 1.52 s min-of-5, −25%, plan
    SMJ + orders Exchange → BHJ with the agg as build). The band is
    bounded both ways, measured at sf0.1 and x50:
    - below 16 MB the hint would SERIALIZE the heavy agg into a
      broadcast build (sf0.1 interleaved A/B: 0.662 → 0.746 s med,
      hint lost 8/8 pairs — so the bench plan keeps the current
      shape). Under the default 10 MB autoBroadcastJoinThreshold
      Catalyst broadcasts the orders side itself; the 10-16 MB
      sub-band, where neither broadcast fires, keeps the exchange
      plan on purpose;
    - at 256 MB and above the qualifying set's WORST case (a non-selective
      dataset where every order qualifies) could exceed a safe
      broadcast relation, so the exchange plan returns — at 100 TB
      q18 runs exactly the r15 shape (agg exchange reused by the
      join, orders SMJ/SHJ).
    The X36 bounded-bitmap bloom was measured for this join and
    REJECTED: rebuilding the agg for the bitmap costs more than the
    orders exchange it saves (x50: 8.53 s vs 5.82 s baseline), a
    persisted agg + bitmap still loses (5.26 s vs 2.01 s — persist
    write + collect jobs dominate), and past the band a 128 KiB
    bitmap over an order-cardinality key set has fpp ≈ 1 (prunes
    nothing). Results identical in every regime (inner equi-joins;
    collect-compared at sf0.1 and x50, oracle green)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity", 1)).alias("qty_l"))
        .where(F.col("qty_l") > 250)
    )
    agg = broadcast_if(
        agg,
        sf_dir,
        "orders",
        _Q18_AGG_BROADCAST_MIN_ORDERS,
        _Q18_AGG_BROADCAST_MAX_ORDERS,
    )
    return (
        agg.join(o, o.o_orderkey == agg.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_l").cast("double").alias("total_qty"),
        )
    )


@register(
    "q22_idle_balances",
    oracle="""
WITH avg_bal AS (
    SELECT (CAST(CAST(SUM(CAST(round((c_acctbal) * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0)
               / COUNT(c_acctbal) AS v
    FROM customer WHERE c_acctbal > 0
)
SELECT c.c_mktsegment, count(*) AS numcust,
       CAST(CAST(SUM(CAST(round((c.c_acctbal) * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0 AS total_acctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.v
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
""",
    tags=("X2", "X5", "X15"),
)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: well-funded customers (balance above the positive-
    balance average — a scalar subquery broadcast as a 1-row join)
    with no urgent orders (anti join), counted per market segment
    (c_mktsegment plays the phone country code). The anti join's
    build side is pre-filtered to urgent orders only."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        lavg_money(cents("c_acctbal"), 1, "v")
    )
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("v"))
        .join(urgent, urgent.o_custkey == c.c_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            lsum_money(cents("c_acctbal"), 1, "total_acctbal"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {sql_lsum_money(f"{sql_cents('l_extendedprice')} * {sql_cents('l_discount')}", 2)} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("X5", "X15", "F1"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: single-table filtered aggregate — the pure predicate-
    pushdown showcase. All three predicates reach the parquet scan as
    PushedFilters (pinned in tests/test_plans.py); the whole query is
    one WholeStageCodegen span over one scan, partial-agg combined
    map-side to a single row."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        lsum_money(cents("l_extendedprice") * cents("l_discount"), 2, "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q16_supplier_variety",
    oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    tags=("X5", "X6", "F2"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per (brand, type, size)
    outside an excluded brand/type. The part dim is filtered then
    broadcast onto lineitem; count(DISTINCT) expands to the standard
    two-phase plan — dedup on (group, suppkey) with map-side partial
    dedup, then count — so no supplier list ever materializes."""
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            (F.col("p_brand") != "Brand#45")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# -- Q8/Q9/Q11/Q13/Q15/Q17/Q20/Q21 shapes (round 3, second batch) -------------
#
# Completes the 22-query TPC-H analog suite on the driver star schema.
# Remaining substitutions for columns the schema lacks (no partsupp /
# commitdate / receiptdate / container / mfgr / phone): supply cost :=
# 0.6 * p_retailprice (Q9), lateness := l_shipdate more than 90 days
# after o_orderdate (Q21), container class := p_size bucket (Q17), and
# Q11's "stock value" := lineitem revenue booked by one nation's
# suppliers. Every aggregate follows the decimal exactness recipe
# (functions/exact.py); every comparison that decides row membership is
# made on exact decimals so Spark and DuckDB agree on the boundary.


@register(
    "q8_market_share",
    oracle=f"""
WITH base AS (
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           {_REV_C} AS volume,
           sn.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
)
SELECT o_year,
       CAST(({sql_lsum_money("CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS BIGINT) END", 2)})
         / ({sql_lsum_money('volume', 2)}) AS DOUBLE) AS mkt_share,
       count(*) AS n_items
FROM base
GROUP BY o_year
""",
    tags=("X1", "X5", "X15"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_2's share of the ASIA STANDARD-part market per
    order year. Seven-table join where every dimension (nation ×2,
    region, supplier, part) broadcasts — the only shuffles are the two
    fact-side equi-joins and the tiny final aggregate. The share is a
    ratio of two exact decimal sums, one IEEE division at the end.

    Round-15 restructure (guide §3.1 deliberate join order + §2.3
    shuffle fewer bytes): Catalyst does not reorder joins without CBO
    stats, so the selective legs are attached explicitly first — the
    STANDARD-part broadcast prunes the lineitem stream (~1/6 of rows
    at any SF) BEFORE the orders join, and the ASIA region filter is
    folded into the customer leg (customer⋈nation⋈region as dim-side
    broadcast probes) so non-ASIA fact rows drop at the customer
    attach instead of surviving two more probes. The supplier nation
    folds into the supplier leg. Fact probes per surviving row: 7 → 4;
    the l⋈o exchange now carries ~1/6 of the rows. Inner equi-joins +
    order-independent scaled-long sums → result-identical
    (re-certified vs the oracle at sf0.01/sf0.1). Measured at sf0.1,
    interleaved prepared-plan A/B, min-of-6: 0.448s → 0.385s (−14%);
    the exchange-volume cut is the scale story."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    )
    r = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    cn = F.broadcast(
        n.select(F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk"))
    )
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))
    )
    # dim-side folds: ASIA customers only; supplier with its nation name
    c2 = (
        c.join(cn, F.col("cnk") == c.c_nationkey)
        .join(r, r.r_regionkey == F.col("crk"))
        .select("c_custkey")
    )
    s2 = F.broadcast(
        s.join(sn, F.col("snk") == s.s_nationkey).select("s_suppkey", "supp_nation")
    )
    rev = _rev_c()
    zero = F.lit(0).cast("long")
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c2, F.col("c_custkey") == o.o_custkey)
        .join(s2, F.col("s_suppkey") == li.l_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                lsum_money(
                    F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(zero), 2
                )
                / lsum_money(rev, 2)
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q9_product_profit",
    oracle=f"""
SELECT sn.n_name AS supp_nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       ({sql_lsum_money(_REV_C, 2)})
         - 0.6 * ({sql_lsum_money(f"{sql_cents('p.p_retailprice')} * CAST(round(l.l_quantity) AS BIGINT)", 1)})
         AS profit
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
JOIN part p     ON p.p_partkey = l.l_partkey
WHERE p.p_name LIKE '%red%'
GROUP BY sn.n_name, year(o.o_orderdate)
""",
    tags=("X1", "X5", "X13"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit on red parts per supplier nation and order
    year, with supply cost := 0.6 × p_retailprice (the schema has no
    partsupp). Both termsums stay exact decimals; the 0.6 scale and the
    subtraction are two deterministic IEEE ops on the final per-group
    values. part/supplier/nation broadcast; the LIKE filter prunes the
    part build side before it ships.

    Round-15 restructure (guide §3.1): the %red% part broadcast is the
    selective leg, so it attaches FIRST — the lineitem stream shrinks
    to the red-part rows before the orders exchange and the supplier
    probe (Catalyst will not reorder the joins itself without CBO).
    The supplier-nation lookup folds into the supplier leg (dim-side
    probe over |supplier| rows, not |lineitem|). Fact probes per
    surviving row: 4 → 3, and the l⋈o exchange carries only red-part
    rows. Inner equi-joins + order-independent scaled-long sums →
    result-identical (re-certified at sf0.01/sf0.1). Measured at
    sf0.1, interleaved prepared-plan A/B, min-of-6: 0.365s → 0.368s —
    neutral at bench SF (every join broadcasts there, so order only
    moves per-row probe counts); the win is the x50+ shape, where
    orders stops broadcasting and the l⋈o exchange carries the
    red-part subset instead of the full table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    sn = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
        )
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    )
    s2 = F.broadcast(
        s.join(sn, F.col("snk") == s.s_nationkey).select("s_suppkey", "supp_nation")
    )
    rev = _rev_c()
    cost = cents("p_retailprice") * cents("l_quantity", 1)
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(s2, F.col("s_suppkey") == li.l_suppkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            (lsum_money(rev, 2) - F.lit(0.6) * lsum_money(cost, 1)).alias(
                "profit"
            )
        )
    )


@register(
    "q11_important_parts",
    oracle=f"""
WITH nat AS (
    SELECT l.l_partkey,
           SUM({sql_cents('l.l_extendedprice')}) AS value_l
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_2'
    GROUP BY l.l_partkey
)
SELECT l_partkey, CAST(CAST(value_l AS VARCHAR) AS DOUBLE) / 100.0 AS stock_value
FROM nat
WHERE value_l > (SELECT SUM(value_l) // 1000 FROM nat)
""",
    tags=("X1", "X5", "X2"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose NATION_2-supplier revenue exceeds 0.1% of
    that nation's total (scalar-subquery threshold). The per-part
    aggregate is computed once; the global total folds the SAME
    aggregate's output (25× fewer rows than re-scanning lineitem) and
    broadcasts as a 1-row join. Membership (value > 0.1% of total) is
    decided as ``value > total div 1000`` — exact integer arithmetic on
    both engines (for positive integers a*1000 > T ⟺ a > T div 1000),
    with the floor-division on the 1-row total instead of a ×1000
    multiply per part, which would cost 1000× of the int64 headroom
    (a 0.001 decimal factor would instead round at Spark's clamped
    result scale and drift the boundary)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    )
    per_part = (
        li.join(s, s.s_suppkey == li.l_suppkey)
        .join(n, n.n_nationkey == s.s_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_l"))
    )
    from master_airflow_spark.registry import track_cache

    per_part = track_cache(per_part)  # feeds both the threshold and the filter
    total = per_part.agg(F.sum("value_l").alias("total_l"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("value_l") > F.expr("total_l div 1000"))
        .select(
            "l_partkey",
            (F.col("value_l").cast("double") / F.lit(100.0)).alias("stock_value"),
        )
    )


@register(
    "q13_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                      AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
    tags=("X1", "X5"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of customers by non-urgent order count —
    the outer-join-preserving double aggregate (customers with zero
    orders must survive as c_count = 0, which an inner join would
    silently drop). One shuffle keyed on custkey, then a tiny
    histogram aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey,
           SUM({_REV_C}) AS total_rev_l
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, s.s_acctbal,
       CAST(CAST(rev.total_rev_l AS VARCHAR) AS DOUBLE) / 10000.0 AS total_revenue
FROM rev
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_rev_l = (SELECT max(total_rev_l) FROM rev)
""",
    tags=("X1", "X5", "T1"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) with maximum revenue in 1997Q1 — the
    view-plus-scalar-max pattern. The quarter aggregate is computed
    once (cached), its 1-row max broadcasts back as the filter, and
    ties survive (the reference semantics) because equality is tested
    on exact decimals, not rounded doubles."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    from master_airflow_spark.registry import track_cache

    rev = track_cache(
        li.groupBy("l_suppkey").agg(F.sum(_rev_c()).alias("total_rev_l"))
    )
    mx = rev.agg(F.max("total_rev_l").alias("mx"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev_l") == F.col("mx"))
        .join(s, s.s_suppkey == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            "s_acctbal",
            (F.col("total_rev_l").cast("double") / F.lit(10000.0)).alias(
                "total_revenue"
            ),
        )
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH candidate AS (
    SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
), with_avg AS (
    SELECT l_extendedprice, l_quantity,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT))
                    OVER (PARTITION BY l_partkey) AS DOUBLE)
             / COUNT(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
    FROM candidate
)
SELECT CAST(CAST(SUM(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS VARCHAR) AS DOUBLE) / 100.0 / 7.0
           AS avg_yearly,
       count(*) AS n_items
FROM with_avg
WHERE l_quantity < 0.2 * avg_qty
""",
    tags=("X1", "X5", "X9"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue forgone on small-quantity orders of
    Brand#23 small parts (p_size < 10 plays the container class). The
    correlated per-part average compiles to a window aggregate over the
    part-filtered lineitems — the filter is at part granularity, so the
    window sees exactly the correlated subquery's rows and no second
    lineitem scan exists. The 0.2 × avg threshold is one IEEE multiply
    on an exactly-derived average, identical on both engines."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(
            (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
        )
    )
    w = Window.partitionBy("l_partkey")
    cand = li.join(p, p.p_partkey == li.l_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    with_avg = cand.withColumn(
        "avg_qty",
        F.sum(cents("l_quantity", 1)).over(w).cast("double")
        / F.count("l_quantity").over(w),
    )
    return with_avg.where(F.col("l_quantity") < 0.2 * F.col("avg_qty")).agg(
        (lsum_money(cents("l_extendedprice"), 1) / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q20_excess_shippers",
    oracle="""
WITH sp AS (
    SELECT l.l_suppkey,
           SUM(CASE WHEN year(l.l_shipdate) = 1997
                    THEN CAST(round(l.l_quantity) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END) AS qty97,
           SUM(CAST(round(l.l_quantity) AS BIGINT)) AS qty_all
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY l.l_suppkey, l.l_partkey
)
SELECT s.s_suppkey, s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_2', 'NATION_7')
  AND EXISTS (SELECT 1 FROM sp
              WHERE sp.l_suppkey = s.s_suppkey
                AND sp.qty97 * 2 > sp.qty_all)
""",
    tags=("X2", "X5", "X15"),
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: NATION_2/NATION_7 suppliers who shipped more than
    half of some red part's lifetime volume in 1997 alone (the
    availqty-vs-half-of-shipments comparison recast onto two measures
    both derivable from lineitem). The two-measure HAVING is a single
    conditional aggregate pass; qualification reaches suppliers as a
    LEFT SEMI join, so a supplier qualifying via many parts appears
    once without a distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    )
    zero = F.lit(0).cast("long")
    qty = cents("l_quantity", 1)
    sp = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(F.year("l_shipdate") == 1997, qty).otherwise(zero)).alias(
                "qty97"
            ),
            F.sum(qty).alias("qty_all"),
        )
        .where(F.col("qty97") * 2 > F.col("qty_all"))
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").where(
            F.col("n_name").isin("NATION_2", "NATION_7")
        )
    )
    return (
        s.join(n, n.n_nationkey == s.s_nationkey)
        .join(sp, sp.l_suppkey == s.s_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
WITH li AS (
    SELECT l.l_orderkey, l.l_suppkey,
           CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                THEN 1 ELSE 0 END AS late
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
), stats AS (
    SELECT l_orderkey,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
    FROM li
    GROUP BY l_orderkey
)
SELECT s.s_name, count(*) AS numwait
FROM li
JOIN stats ON stats.l_orderkey = li.l_orderkey
JOIN supplier s ON s.s_suppkey = li.l_suppkey
WHERE li.late = 1 AND stats.n_supp >= 2 AND stats.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 25
""",
    tags=("X2", "X5", "X8", "T3"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the sole late shipper in
    finished multi-supplier orders (late := shipped >90 days after the
    order date — the schema's receipt/commit proxy). The EXISTS /
    NOT EXISTS pair collapses into a two-level aggregation over ONE
    pass of the F-order lineitems: per (order, supplier) lateness,
    then per order the supplier count / sole-late supplier / its late
    line count — no join-back, no cache. Because all qualifying
    orders' late lines belong to the single late supplier by
    definition, the late-line count rolls up directly. At scale the
    orderkey equi-join's partitioning satisfies BOTH groupBys (each
    key list is a superset of the join key), so the whole aggregation
    pipeline adds zero exchanges after the join; locally AQE broadcasts
    the orders side instead and the two aggs shuffle 600k/300k rows."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.join(o, o.o_orderkey == li.l_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    per_os = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").alias("n_late_lines"), F.max("late").alias("is_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late_supp"),
        F.sum(F.when(F.col("is_late") == 1, F.col("n_late_lines"))).alias(
            "late_lines"
        ),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    qual = per_o.where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        qual.join(s, s.s_suppkey == F.col("late_supp"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )
