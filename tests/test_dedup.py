"""Semantic tests for the near-dup operators (no SQL oracle exists for
the hash family — these pin the behavior the rows-only check can't)."""

from __future__ import annotations

from pyspark.sql import functions as F

from master_airflow_spark.operators.dedup import (
    N_HASHES,
    minhash_signatures,
    with_bands,
)


def _sig_df(spark, rows):
    return minhash_signatures(spark.createDataFrame(rows, "doc_id long, text string"))


def test_identical_docs_identical_signatures(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    sigs = _sig_df(spark, [(1, text), (2, text)]).collect()
    assert sigs[0].sig == sigs[1].sig
    assert len(sigs[0].sig) == N_HASHES


def test_identical_docs_become_candidates(spark):
    text = "spark shuffles data between stages when keys repartition rows"
    banded = with_bands(_sig_df(spark, [(1, text), (2, text)]))
    left = banded.select(F.col("doc_id").alias("a"), "band_id", "band_hash")
    right = banded.select(F.col("doc_id").alias("b"), "band_id", "band_hash")
    pairs = (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .collect()
    )
    assert (1, 2) in [(r.a, r.b) for r in pairs]


def test_disjoint_docs_have_different_signatures(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten eleven"
    sigs = {r.doc_id: r.sig for r in _sig_df(spark, [(1, a), (2, b)]).collect()}
    # overlap should be far below the 0.5 candidate threshold
    overlap = sum(x == y for x, y in zip(sigs[1], sigs[2])) / N_HASHES
    assert overlap < 0.5


def test_near_identical_docs_high_estimated_jaccard(spark):
    base = "spark executes queries lazily building a logical plan first " * 3
    # one repetition more: identical shingle set plus the wrap-around
    # shingles — true Jaccard ≈ 1, any sane estimator stays above 0.5
    variant = "spark executes queries lazily building a logical plan first " * 4
    sigs = {r.doc_id: r.sig for r in _sig_df(spark, [(1, base), (2, variant)]).collect()}
    overlap = sum(x == y for x, y in zip(sigs[1], sigs[2])) / N_HASHES
    assert overlap >= 0.5


def test_ppjoin_equals_prefix_only_jaccard(spark):
    """The registered jaccard_block_pairs (PPJoin kernel since round
    14) must return the IDENTICAL rows to the unregistered prefix-only
    Bayardo leg — the length + positional filters are lossless
    theorems (round-12 verdict #7; round-14 verdict #2 swapped the
    kernel under the primary name)."""
    from master_airflow_spark.operators.text import (
        jaccard_block_pairs_prefix_only,
    )
    from master_airflow_spark.registry import REGISTRY, _ensure_loaded, release_caches

    _ensure_loaded()
    sfd = "/root/testdata/sf0.01"

    def rows(fn):
        out = sorted(map(tuple, fn(spark, sfd).collect()))
        release_caches()
        return out

    base = rows(jaccard_block_pairs_prefix_only)
    twin = rows(REGISTRY["jaccard_block_pairs"].fn)
    assert base == twin
    assert len(base) > 0  # the sf corpus really has qualifying pairs


def test_ppjoin_candidates_subset_and_smaller(spark):
    """The PPJoin candidate set is a subset of the prefix-only
    candidate set and (on the sf corpus, where size spreads and edge
    pairs exist) strictly smaller — the pruning is real, not a no-op.
    Counts go through the PRODUCTION candidate builder
    (_candidate_pairs, the same code path _prefix_filter_verify
    joins against), so a future change to the filters is measured
    here, not validated against a stale inline copy (round-13
    ADVICE)."""
    from master_airflow_spark.operators.text import (
        _candidate_pairs,
        _ranked_gram_sets,
    )
    from master_airflow_spark.registry import release_caches

    sfd = "/root/testdata/sf0.01"

    def cand_count(positional):
        ranked = _ranked_gram_sets(spark, sfd)
        n = _candidate_pairs(ranked, positional, t=0.6).count()
        release_caches()
        return n

    loose = cand_count(False)
    tight = cand_count(True)
    assert tight < loose, (tight, loose)
