"""The query lists bench.py shares with the benchmark, the package
functions the benchmark binds, the row check of scripts/ab.py, and the
registry pin of the ANN anchor triples.

bench.py and perfbench/metrics.py each keep a headline list; both must
name the same registered queries in the same order, or bench.py and
the benchmark time different work. perfbench/ is only read here, never
edited. Only the ab test needs a Spark session.
"""

from __future__ import annotations

import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(relpath: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load("bench.py", "bench_under_test")
metrics = _load("perfbench/metrics.py", "perfbench_metrics")
ab = _load("scripts/ab.py", "ab_tool")


def test_headline_matches_benchmark_in_order():
    assert tuple(bench.HEADLINE) == metrics.HEADLINE
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE) == 26


def test_drain_group_matches_benchmark():
    assert tuple(bench.DRAIN_GROUP) == metrics.DRAINS


def test_rebuild_is_part_of_headline():
    assert set(bench.REBUILD) <= set(bench.HEADLINE)


def test_every_name_is_registered():
    from master_airflow_spark import registry

    registry._ensure_loaded()
    names = set(bench.HEADLINE) | set(bench.DRAIN_GROUP) | set(bench.REBUILD)
    assert sorted(n for n in names if n not in registry.REGISTRY) == []


@pytest.mark.parametrize("family", ["ivf", "pq", "ivfpq"])
def test_ann_family_keeps_its_exact_anchor(family):
    """Each ANN family registers its approximate query, an exhaustive
    twin that carries cosine_topk's exact oracle, and a recall
    evaluator — so a refactor cannot silently drop an exact anchor."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    reg = registry.REGISTRY
    for suffix in ("ann_topk", "ann_exhaustive", "recall_eval"):
        assert f"{family}_{suffix}" in reg
    assert reg[f"{family}_ann_exhaustive"].oracle == reg["cosine_topk"].oracle
    assert reg[f"{family}_ann_topk"].oracle is None


@pytest.mark.parametrize(
    "module, name",
    [
        ("master_airflow_spark.streaming.events", "run_to_memory"),
        ("master_airflow_spark.streaming.shared_drain", "drain_events_multi"),
        ("master_airflow_spark.catalog", "load_table"),
        ("master_airflow_spark.streaming.events", "reset_drain_trigger_seconds"),
        ("master_airflow_spark.streaming.events", "drain_wall_seconds"),
        ("master_airflow_spark.streaming.events", "drain_trigger_seconds"),
    ],
)
def test_benchmark_binds_package_functions(module, name):
    """perfbench/query_suite.py wraps the first three by identity in
    its traced pass and reads the drain accumulators through the last
    three; a rename would break the benchmark, not this package."""
    assert callable(getattr(importlib.import_module(module), name))


def test_ab_refuses_to_time_candidate_with_other_rows(spark, sf_dir, monkeypatch):
    timed = []
    monkeypatch.setattr(ab, "interleave", lambda *a: timed.append(a[-3:]) or ([1.0], [1.0]))
    other = "master_airflow_spark.operators.relational:revenue_by_nation"
    with pytest.raises(ab.RowsDiffer):
        ab.ab(spark, sf_dir, ["fn", other, "1", "pricing_summary"])
    assert timed == []

    # control: the registered fn as its own candidate passes and is timed
    same = "master_airflow_spark.operators.relational:pricing_summary"
    assert ab.ab(spark, sf_dir, ["fn", same, "1", "pricing_summary"]) == 0
    assert len(timed) == 1
