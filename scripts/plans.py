"""Plan capture: dump .explain("formatted") for the named registered
queries (default: every bench.HEADLINE query) into
<out_dir>/<query>_<suffix>.txt, and print a one-line plan-shape
summary (Exchange count, join kinds, Python-eval nodes) per query.
The random shared-drain run dir in a plan is written as ``<run>``, so
two dumps of the same code are byte-equal.

Run: SPARK_GRAFT_SF_DIR=<sf dir> python scripts/plans.py <out_dir> <suffix> [query ...]
     e.g. SPARK_GRAFT_SF_DIR=<sf0.1 dir> python scripts/plans.py plans/r16 after q18_large_orders
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
# A shared drain spools under mas_shared_drain/<random run id>/, and
# that path is the scan location of the drained views' merge plans.
RUN_DIR = re.compile(r"(mas_shared_drain/)\w+/")


def shape(plan: str) -> str:
    tree = plan.split("\n\n")[0]
    n_ex = len(re.findall(r"\bExchange \(", tree))
    n_bex = len(re.findall(r"\bBroadcastExchange \(", tree))
    joins = sorted(k for k in JOINS if k in plan)
    py = sorted(k for k in PYTHON_NODES if k in plan)
    scans = plan.count("Scan parquet") // 2 or plan.count("Scan parquet")
    return (
        f"exchanges={n_ex} bcast={n_bex} scans~{scans}"
        f" joins={joins or '[]'} python={py or '[]'}"
    )


def dump(spark, sf_dir: str, name: str) -> str:
    """The formatted plan of a registered query, with the drain run dir
    replaced by a fixed token so two dumps of the same code are equal."""
    from master_airflow_spark import registry
    from master_airflow_spark.plans.explain import formatted

    registry._ensure_loaded()
    try:
        plan = formatted(registry.REGISTRY[name].fn(spark, sf_dir))
    finally:
        registry.release_caches()
    return RUN_DIR.sub(r"\1<run>/", plan)


def main(argv: list[str]) -> int:
    out_dir, suffix, names = argv[0], argv[1], argv[2:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    from master_airflow_spark import registry
    from master_airflow_spark.session import get_spark

    import bench

    spark = get_spark(app_name="mas-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    failed = 0
    for name in names or bench.HEADLINE:
        try:
            plan = dump(spark, sf_dir, name)
        except Exception as ex:  # noqa: BLE001  (report and go on to the next query)
            print(f"{name}: PLAN FAILED {type(ex).__name__}: {ex}", flush=True)
            failed += 1
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"{name}: {shape(plan)}", flush=True)
    print(f"plans written to {out_dir} (*_{suffix}.txt)")
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) < 3 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    raise SystemExit(main(sys.argv[1:]))
