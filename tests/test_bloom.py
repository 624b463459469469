"""Bloom-filter pruning (X36): bitmap correctness properties and the
plan shapes that make the pruning real — the membership filter must sit
on the probe side BELOW the join exchange, and the exact join must
still be present (it is what removes false positives)."""

from __future__ import annotations

from pyspark.sql import functions as F

from master_airflow_spark.functions.bloom import (
    K_HASHES,
    M_BITS,
    bloom_build,
    bloom_might_contain,
)
from master_airflow_spark.plans.explain import formatted
from master_airflow_spark.registry import REGISTRY, _ensure_loaded, release_caches
from master_airflow_spark.testing import run_one
from plan_asserts import join_kinds

_ensure_loaded()


def test_no_false_negatives(spark):
    """Every inserted key must test positive — the invariant that lets
    the pruned operators keep plain-SQL oracles."""
    keys = spark.range(0, 5000).select((F.col("id") * 7919 + 13).alias("k"))
    words = bloom_build(keys, "k")
    n_hit = keys.where(bloom_might_contain(words, "k")).count()
    assert n_hit == 5000


def test_false_positive_rate_bounded(spark):
    """Non-inserted keys should rarely test positive: with n=5000,
    m=65536, k=5 the analytic fpp is ~0.35%; assert an order-of-
    magnitude cushion, not the exact constant."""
    keys = spark.range(0, 5000).select((F.col("id") * 7919 + 13).alias("k"))
    words = bloom_build(keys, "k")
    others = spark.range(0, 20000).select((F.col("id") * 104729 + 7).alias("k"))
    others = others.join(keys, "k", "left_anti")
    n_other = others.count()
    n_fp = others.where(bloom_might_contain(words, "k")).count()
    assert n_fp / n_other < 0.03, f"fpp {n_fp}/{n_other} too high"


def test_bitmap_is_fixed_size(spark):
    words = bloom_build(
        spark.range(0, 100).select(F.col("id").alias("k")), "k"
    )
    assert len(words) == M_BITS // 64
    assert K_HASHES >= 3


def test_join_prune_plan_filters_before_shuffle_join(spark, sf_dir):
    df = REGISTRY["bloom_join_prune"].fn(spark, sf_dir)
    plan = formatted(df)
    kinds = join_kinds(df)
    # the merge hint must hold: pruning a broadcast join is pointless
    assert "SortMergeJoin" in kinds, kinds
    assert "BroadcastHashJoin" not in kinds, kinds
    # Tree-position pin (explain("formatted") prints the operator tree
    # parents-above-children, then numbered "(N) Op" detail blocks):
    # the Filter whose condition does the bitmap word lookup
    # (element_at + shiftright) must be a DESCENDANT of the merge join
    # — i.e. its tree line appears below the join's — so the pruning
    # happens before rows reach the join exchange.
    import re

    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    bloom_ids = [
        re.match(r"\((\d+)\) Filter", b).group(1)
        for b in blocks
        if re.match(r"\(\d+\) Filter", b)
        and "element_at" in b
        and "shiftright" in b
    ]
    assert bloom_ids, "no Filter node with the bitmap membership test"
    join_ids = [
        re.match(r"\((\d+)\) SortMergeJoin", b).group(1)
        for b in blocks
        if re.match(r"\(\d+\) SortMergeJoin", b)
    ]
    assert join_ids, "merge join node missing"
    tree = plan.split("\n\n", 1)[0].splitlines()

    def line_of(op: str, i: str) -> int:
        # tree lines read e.g. "+- SortMergeJoin Inner (9)" — the
        # node id is always the trailing parenthesized number
        return next(
            n
            for n, ln in enumerate(tree)
            if re.search(rf"\b{op}\b.*\({i}\)\s*$", ln)
        )

    assert line_of("Filter", bloom_ids[0]) > line_of("SortMergeJoin", join_ids[0]), (
        "bloom filter must be planned below (inside) the shuffle join subtree"
    )


def test_incremental_dedup_plan_has_anti_join_and_bitmap(spark, sf_dir):
    df = REGISTRY["bloom_incremental_dedup"].fn(spark, sf_dir)
    plan = formatted(df)
    assert "LeftAnti" in plan, "exact anti-join must remain (fp removal)"
    assert "element_at" in plan, "bitmap membership filter missing"
    assert "Union" in plan, "definitely-new branch must bypass the join"


def test_incremental_dedup_equals_unpruned(spark, sf_dir):
    pruned = REGISTRY["bloom_incremental_dedup"].fn(spark, sf_dir)
    plain = REGISTRY["incremental_corpus_dedup"].fn(spark, sf_dir)
    assert pruned.exceptAll(plain).count() == 0
    assert plain.exceptAll(pruned).count() == 0
    release_caches()


def test_new_queries_match_oracles(spark, sf_dir):
    for name in ("bloom_join_prune", "bloom_incremental_dedup", "stream_topk_users"):
        res = run_one(spark, sf_dir, name)
        assert res.ok, (name, res.mismatches[:3])
        release_caches()


def test_incremental_dedup_keeps_null_fingerprints(spark, tmp_path):
    """NULL text ⇒ NULL fingerprint ⇒ never matches the anti join, so
    the oracle and the unpruned control KEEP the row; the bloom split
    must route it to the definitely-new branch rather than dropping it
    from both (round-7 review regression)."""
    from master_airflow_spark.operators.bloom_prune import incremental_dedup_frame

    rows = [
        (0, "src", "shared text"),   # yesterday (even)
        (2, "src", "only yesterday"),
        (1, "src", "shared text"),   # today (odd): true dup -> dropped
        (3, "src", None),            # today: NULL text -> must survive
        (5, "src", "genuinely new"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    pruned = incremental_dedup_frame(spark, sf, use_bloom=True)
    control = incremental_dedup_frame(spark, sf, use_bloom=False)
    got = {r.doc_id for r in pruned.collect()}
    want = {r.doc_id for r in control.collect()}
    assert got == want == {3, 5}
    release_caches()
