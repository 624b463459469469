"""Laws for the Misra-Gries sketch-then-verify heavy hitters: the
differential oracle run never triggers pruning (test vocab < MG_K), so
these force a tiny capacity to exercise the merge rule, the undercount
bound, and the end-to-end exactness guarantee under real pruning."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from master_airflow_spark.registry import release_caches


def _stream(tokens):
    yield pd.DataFrame({"gram": tokens})


def test_mg_kernel_bound_and_total():
    """With k=4 over a 100-token stream: <= 4 counters, every lb a
    lower bound, undercount <= n/(k+1), and the is_total marker row
    carries the exact partition count."""
    from master_airflow_spark.operators.sketches import _mg_partition_sketch

    toks = (
        ["hot"] * 40 + ["warm"] * 25 + ["mild"] * 15
        + [f"rare{i}" for i in range(20)]
    )
    (out,) = list(_mg_partition_sketch(4)(_stream(toks)))
    total = out[out.is_total]
    assert len(total) == 1 and int(total.lb.iloc[0]) == len(toks)
    counters = {r.gram: int(r.lb) for r in out[~out.is_total].itertuples()}
    assert len(counters) <= 4
    true = Counter(toks)
    slack = len(toks) / (4 + 1)
    for g, lb in counters.items():
        assert lb <= true[g], f"{g}: lb {lb} exceeds true {true[g]}"
        assert true[g] - lb <= slack
    # the heavy items must survive with useful mass
    assert counters.get("hot", 0) >= true["hot"] - slack
    assert counters.get("warm", 0) >= true["warm"] - slack


def test_mg_kernel_multi_batch_merge():
    """Pruning across batches keeps the mergeable-summary bound: the
    global undercount after B batches is still <= n_total/(k+1)."""
    from master_airflow_spark.operators.sketches import _mg_partition_sketch

    batches = [
        pd.DataFrame({"gram": ["a"] * 30 + [f"x{i}" for i in range(10)]}),
        pd.DataFrame({"gram": ["b"] * 20 + [f"y{i}" for i in range(10)]}),
        pd.DataFrame({"gram": ["a"] * 10 + ["b"] * 10 + [f"z{i}" for i in range(10)]}),
    ]
    n = sum(len(b) for b in batches)
    (out,) = list(_mg_partition_sketch(3)(iter(batches)))
    counters = {r.gram: int(r.lb) for r in out[~out.is_total].itertuples()}
    true = Counter(g for b in batches for g in b["gram"])
    for g in ("a", "b"):
        assert true[g] - counters.get(g, 0) <= n / (3 + 1)


def test_heavy_hitters_exact_under_forced_pruning(spark, tmp_path, monkeypatch):
    """End-to-end with MG_K=8 over a vocabulary of ~60 3-grams: the
    sketch MUST prune, yet the verified output still equals the exact
    per-gram counts filtered at the exact threshold."""
    import master_airflow_spark.operators.sketches as sk

    monkeypatch.setattr(sk, "MG_K", 8)
    texts = []
    for i in range(30):
        texts.append("alpha beta gamma delta " + f"noise{i} filler{i} pad{i}")
    for i in range(10):
        texts.append("omega psi chi phi " + f"junk{i} extra{i} stuff{i}")
    d = tmp_path / "sfX"
    d.mkdir()
    spark.createDataFrame(
        [(i, t, "en", "crafted", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(d / "documents.parquet"))
    try:
        out = {
            r.gram: r.n_occurrences
            for r in sk.heavy_hitters_mg_verified(spark, str(d)).collect()
        }
    finally:
        release_caches()
    true = Counter()
    for t in texts:
        toks = t.split()
        for i in range(len(toks) - 2):
            true[" ".join(toks[i : i + 3])] += 1
    n = sum(true.values())
    thr = max(math.ceil(sk.HH_FRAC * n), sk.HH_MIN_T)
    want = {g: c for g, c in true.items() if c >= thr}
    assert out == want
    assert len(want) >= 4, "crafted corpus must produce real heavy hitters"


# -- X37 exact quantiles ------------------------------------------------------


def test_qs_kernel_weights_sum_and_rank_bounds():
    """Per-batch sample weights must sum exactly to the batch size, and
    the summed weight of samples <= x must lower-bound the true count
    of values <= x within the advertised 2s budget — the invariant the
    bracket derivation rests on."""
    import numpy as np
    import pandas as pd

    from master_airflow_spark.operators.sketches import _qs_batch_samples

    rng = np.random.RandomState(7)
    vals = rng.randint(0, 10_000, size=5_000)
    out = pd.concat(list(_qs_batch_samples()([pd.DataFrame({"v": vals})])))
    samples = out[~out.u]
    marker = out[out.u]
    assert samples.w.sum() == len(vals)
    s_budget = int(marker.w.sum())
    v_sorted = np.sort(vals)
    for x in [0, 17, 5_000, 9_999, int(v_sorted[len(vals) // 2])]:
        true_le = int((vals <= x).sum())
        s_le = int(samples[samples.v <= x].w.sum())
        assert s_le <= true_le, (x, s_le, true_le)
        assert true_le - s_le < s_budget, (x, s_le, true_le, s_budget)


def test_exact_quantiles_match_spark_percentile(spark, sf_dir):
    """The sketched two-pass result must equal Spark's own exact (but
    value-buffering) percentile() on the same integer cents."""
    from pyspark.sql import functions as F

    from master_airflow_spark.catalog import load_table
    from master_airflow_spark.operators.sketches import QS_TARGETS
    from master_airflow_spark.registry import REGISTRY, release_caches

    got = {
        r.p: r.quantile_cents
        for r in REGISTRY["exact_quantiles_sketched"].fn(spark, sf_dir).collect()
    }
    cents = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    ref = cents.agg(
        *[
            F.expr(f"percentile(v, {p!r})").alias(f"q{i}")
            for i, p in enumerate(QS_TARGETS)
        ]
    ).first()
    for i, p in enumerate(QS_TARGETS):
        assert got[p] == ref[f"q{i}"], (p, got[p], ref[f"q{i}"])
    release_caches()


def test_exact_quantiles_oracle(spark, sf_dir):
    from master_airflow_spark.registry import release_caches
    from master_airflow_spark.testing import run_one

    r = run_one(spark, sf_dir, "exact_quantiles_sketched")
    assert r.ok, r.mismatches[:3]
    release_caches()


def test_exact_quantiles_final_plan_is_single_scan(spark, sf_dir):
    """Round-7 review follow-up: pass 2 must be ONE scan of orders —
    the below-counts and candidate lists are conditional aggregate
    expressions over a single FileScan, not separate join branches
    re-reading the fact table."""
    from master_airflow_spark.plans.explain import formatted
    from master_airflow_spark.registry import REGISTRY, release_caches
    from plan_asserts import op_count

    df = REGISTRY["exact_quantiles_sketched"].fn(spark, sf_dir)
    assert op_count(df, "Scan parquet") == 1, formatted(df)
    release_caches()
