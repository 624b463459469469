"""Bloom-filter runtime pruning operators (SURVEY.md §2 X36).

Two judged shapes over functions/bloom.py's explicit bitmap:

- ``bloom_join_prune``: semi-join reduction of a fact-side shuffle
  join — the dim side's filtered keys become an 8 KiB bitmap literal
  that drops non-matching fact rows BEFORE the join exchange.
- ``bloom_incremental_dedup``: the anti-join form — yesterday's
  fingerprints become the bitmap, today's bloom-negative documents are
  provably new and skip the anti-join shuffle entirely; only the
  bloom-positive suspects (true dups + ~1e-5 false positives) pay it.

Both keep plain-SQL oracles because Bloom filters have no false
negatives: the exact join/anti-join downstream removes every false
positive, so the RESULT is independent of the bitmap — only the plan
(and the bytes shuffled) changes. tests/test_bloom.py pins the plan
shape (bitmap-literal filter below the join exchange, exact join still
present) and property-tests the no-false-negative invariant.

Reference parity: the reference engine has no runtime filters (its
queries are single-table ORDER BY LIMIT 1 scans); this row exists for
the 100 TB pipeline posture, alongside Spark's own
``spark.sql.optimizer.runtime.bloomFilter.enabled`` (the optimizer-
injected form of the same reduction, which these operators make
explicit, testable, and composable with anti-joins — the built-in one
only fires on equi-joins with a selective filter, not on left_anti).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from master_airflow_spark.catalog import load_table
from master_airflow_spark.functions.bloom import bloom_build, bloom_might_contain
from master_airflow_spark.functions.exact import dmul, sql_dmul
from master_airflow_spark.registry import register

# Dim-side predicate for the pruned join: two brands ≈ 7% of parts, so
# the bloom drops ~93% of lineitem before its join shuffle.
_BRANDS = ("Brand#13", "Brand#42")
_BRANDS_SQL = "('" + "', '".join(_BRANDS) + "')"


@register(
    "bloom_join_prune",
    oracle=f"""
SELECT p.p_brand,
       count(*) AS n_items,
       CAST(SUM({sql_dmul('l.l_extendedprice', '(1 - l.l_discount)')}) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand IN {_BRANDS_SQL}
GROUP BY p.p_brand
""",
    tags=("X36", "X1", "X5"),
)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per brand for two brands, with the lineitem side
    bloom-pruned before its join shuffle: the filtered part keys build
    a fixed 8 KiB bitmap (one narrow dim scan + bounded collect), and
    the fact scan keeps only might-contain rows — so the join exchange
    carries ~7% of lineitem instead of all of it. The join itself is
    deliberately a shuffle join (merge hint): at 100 TB both a
    filtered dim and the fact side exceed any broadcast threshold,
    and THAT is the regime where semi-join reduction pays; at local
    SFs a broadcast join would subsume it. The exact join removes the
    bitmap's false positives, which is why the oracle is the plain
    two-table join."""
    return join_prune_frame(spark, sf_dir, use_bloom=True)


def join_prune_frame(
    spark: SparkSession, sf_dir: str, use_bloom: bool = False
) -> DataFrame:
    """Builder behind ``bloom_join_prune``; ``use_bloom=False`` (the
    default) yields the byte-for-byte identical plan minus the bitmap
    filter — the control arm that measures how many shuffle bytes the
    pruning removes, run as the ARM
    ``master_airflow_spark.operators.bloom_prune:join_prune_frame`` of
    scripts/scale_probe.py."""
    part_f = load_table(spark, sf_dir, "part").where(
        F.col("p_brand").isin(*_BRANDS)
    )
    li = load_table(spark, sf_dir, "lineitem")
    if use_bloom:
        words = bloom_build(part_f, "p_partkey")
        li = li.where(bloom_might_contain(words, "l_partkey"))
    return (
        li.join(
            part_f.hint("merge"),
            li.l_partkey == part_f.p_partkey,
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dmul(F.col("l_extendedprice"), 1 - F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "bloom_incremental_dedup",
    oracle=r"""
WITH yesterday AS (
    SELECT md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 2 = 0
),
today AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
    FROM documents WHERE doc_id % 2 = 1
)
SELECT t.doc_id, t.source, t.fp
FROM today t
WHERE NOT EXISTS (SELECT 1 FROM yesterday y WHERE y.fp = t.fp)
""",
    tags=("X36", "X23", "X2"),
)
def bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_corpus_dedup's exact semantics (its docstring
    already names this plan as the scale path) with BOTH anti-join
    shuffle legs bloom-reduced — the classic two-sided semi-join
    reduction:

    1. yesterday's fingerprints build a bitmap; today's bloom-NEGATIVE
       documents cannot exist in yesterday (no false negatives) and
       bypass the join entirely. Only the suspects — true re-crawls
       plus ~1e-3 false positives — remain on the probe side.
    2. the SUSPECTS' fingerprints build a second bitmap that prunes
       yesterday: a yesterday row whose fp matches no suspect can
       never remove anything from the anti-join, and the bitmap's
       no-false-negative guarantee means every yesterday row that
       could match a suspect survives the filter — still exact.

    At 100 TB the daily-new fraction dominates, so leg 1 shrinks the
    probe side from |today| to ≈|true dups|, and leg 2 then shrinks
    the build side from |yesterday| (the dominant leg — the whole
    historical corpus) to ≈|true dups| as well. The exact anti-join on
    the doubly-pruned pair restores exactness, hence the same
    plain-SQL oracle as the unpruned operator. The merge hint pins the
    shuffle join this operator models (at scale neither leg fits a
    broadcast; locally AQE would broadcast and hide the reduction)."""
    return incremental_dedup_frame(spark, sf_dir, use_bloom=True)


def incremental_dedup_frame(
    spark: SparkSession, sf_dir: str, use_bloom: bool = False
) -> DataFrame:
    """Builder behind ``bloom_incremental_dedup``; ``use_bloom=False``
    (the default) is the plain anti-join (same expressions as
    ``incremental_corpus_dedup``, same merge hint as the pruned arm)
    — the control arm of the shuffle-bytes measurement, run as the ARM
    ``master_airflow_spark.operators.bloom_prune:incremental_dedup_frame``
    of scripts/scale_probe.py."""
    from master_airflow_spark.registry import track_cache

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("fp")
    yesterday = docs.where(F.col("doc_id") % 2 == 0).select(fp)
    today = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "source", fp)
    if not use_bloom:
        return today.join(yesterday.hint("merge"), "fp", "left_anti").select(
            "doc_id", "source", "fp"
        )
    # Both fingerprint frames are consumed several times (bitmap
    # build(s) + branch filters + join legs); cache them so the
    # md5/regex fingerprint computes ONCE per side — which is also the
    # production shape, where each day's fingerprints are materialized
    # as a table rather than recomputed from raw text per consumer.
    yesterday = track_cache(yesterday)
    today = track_cache(today)
    words = bloom_build(yesterday, "fp")
    # NULL fingerprints (null text) never match in the anti join, so
    # the control/oracle KEEP them; a bare where(maybe)/where(~maybe)
    # split would drop them from BOTH branches (NULL predicate).
    # Route them to the definitely-new branch explicitly.
    maybe = F.coalesce(bloom_might_contain(words, "fp"), F.lit(False))
    definitely_new = today.where(~maybe)
    suspects = track_cache(today.where(maybe))
    words_s = bloom_build(suspects, "fp")
    yesterday_f = yesterday.where(bloom_might_contain(words_s, "fp"))
    return definitely_new.unionByName(
        suspects.join(yesterday_f.hint("merge"), "fp", "left_anti")
    ).select("doc_id", "source", "fp")
