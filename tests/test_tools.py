"""The query lists bench.py shares with the benchmark, the package
functions the benchmark binds, the row check of scripts/ab.py, the
reproducible plan dumps of scripts/plans.py, the registry pin of the
ANN anchor triples, and the scan for package functions, classes and
constants that no code reads.

bench.py and perfbench/metrics.py each keep a headline list; both must
name the same registered queries in the same order, or bench.py and
the benchmark time different work. perfbench/ is only read here, never
edited. Only the ab, plan-dump and fresh-plan tests need a Spark
session.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import re

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
plans = _load("scripts/plans.py", "plans_tool")


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
        ("master_airflow_spark.serve", "top1_price_today"),
        ("master_airflow_spark.serve", "top1_price_alltime"),
        ("master_airflow_spark.serve", "get_prices_today"),
        ("master_airflow_spark.serve", "get_prices_alltime"),
        ("master_airflow_spark.http_api", "make_handler"),
        ("master_airflow_spark.http_api", "PriceServer"),
    ],
)
def test_benchmark_binds_package_functions(module, name):
    """perfbench/query_suite.py wraps the first three by identity in
    its traced pass and reads the drain accumulators through the next
    three; perfbench/price_server.py wraps the serve names and
    ``make_handler`` and serves through ``PriceServer``. A rename would
    break the benchmark, not this package."""
    assert callable(getattr(importlib.import_module(module), name))


@pytest.mark.parametrize("query", ["top1_price_today", "top1_price_alltime"])
def test_registered_price_queries_stay_fresh(spark, sf_dir, query):
    """The serving layer keeps each endpoint's collected rows per table
    version; the registered queries must build a new plan on every
    call, or query_suite would time a stored result, not a query."""
    from master_airflow_spark import registry

    registry._ensure_loaded()
    fn = registry.REGISTRY[query].fn
    assert fn(spark, sf_dir) is not fn(spark, sf_dir)


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


def test_plan_dumps_mask_the_drain_run_dir(spark, sf_dir):
    """Every shared drain spools under a new random run dir, and that
    path shows in stream_session_window's plan; the dump masks it.
    Expression ids count up within one session, so they are masked
    here only: a fresh process numbers them the same way each time."""
    a, b = (
        re.sub(r"#\d+", "#", plans.dump(spark, sf_dir, "stream_session_window"))
        for _ in range(2)
    )
    assert "mas_shared_drain/<run>/spool/" in a
    assert a == b


# Top-level package names that no code outside tests/ refers to, kept
# on purpose: reference features and reference definitions. Anything
# else the scan finds is a second code path that production never
# runs: delete it, or call it from the path that runs.
SERVED_ELSEWHERE = {
    "DailySchedule": "reference feature: the DAGs' @daily schedule; tests/test_pipeline.py",
    "fetch_many": "reference feature: the HTTP scrape source; tests/test_http_source.py",
    "fetch_pages": "reference feature: the HTTP scrape source; tests/test_http_source.py",
    "jaccard_block_pairs_prefix_only": "lossless-filter reference for jaccard_block_pairs; tests/test_dedup.py",
    "lsh_bucket": "column-form definition the banding kernel is pinned to; tests/test_similarity.py",
    "write_append": "reference sink writer (W1-W3); tests/test_ingest.py",
    "write_es_bulk": "reference sink writer (Elasticsearch); tests/test_jdbc_and_decode.py",
    "write_jdbc": "reference sink writer (Postgres); tests/test_jdbc_and_decode.py",
    "write_mongoimport_jsonl": "reference sink writer (MongoDB); tests/test_jdbc_and_decode.py",
}


def _py_files(*rels: str):
    for rel in rels:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            yield path
        for d, _, files in os.walk(path):
            yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _registered(node: ast.AST) -> bool:
    """Decorated with registry.register: served through REGISTRY."""
    for dec in getattr(node, "decorator_list", ()):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def _own_names(top: ast.stmt) -> set[str]:
    """Names a top-level statement defines: a function or class name,
    or the plain names a module-level assignment binds (dunders such
    as __all__ are module protocol, not definitions)."""
    if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {top.name}
    targets = (
        top.targets if isinstance(top, ast.Assign)
        else [top.target] if isinstance(top, ast.AnnAssign)
        else []
    )
    return {
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not (n.id.startswith("__") and n.id.endswith("__"))
    }


def _unreferenced_package_names() -> set[str]:
    """Top-level functions, classes and assigned names of
    master_airflow_spark/ that no code refers to outside their own
    definition, searching the package, scripts/, perfbench/, bench.py
    and the driver entry point. Only the syntax tree counts (names,
    attributes, imports), so a name that appears in a docstring, a
    comment or an SQL string is still unreferenced."""
    files = _py_files(
        "master_airflow_spark", "scripts", "perfbench", "bench.py", "__spark_entry__.py"
    )
    defined, used = set(), set()
    for path in files:
        tree = ast.parse(open(path).read())
        in_package = os.path.relpath(path, ROOT).startswith("master_airflow_spark")
        for top in tree.body:
            own = _own_names(top)
            if in_package and not _registered(top):
                defined |= own
            for n in ast.walk(top):
                if isinstance(n, ast.Name):
                    name = n.id
                elif isinstance(n, ast.Attribute):
                    name = n.attr
                elif isinstance(n, ast.alias):
                    name = n.name.rsplit(".", 1)[-1]
                else:
                    continue
                if name not in own:
                    used.add(name)
    return defined - used


def test_no_unserved_package_names():
    found = _unreferenced_package_names()
    assert sorted(found - set(SERVED_ELSEWHERE)) == []
    # an entry whose name is now called, or gone, leaves the list
    assert sorted(set(SERVED_ELSEWHERE) - found) == []
