"""Plan introspection helpers — the engine's "is this the plan I'd
want at 100 TB?" toolkit.

``formatted(df)`` returns the physical plan in explain("formatted")
form; the predicates below parse it for the properties that decide
scale behavior: filters reaching the parquet scan, pruned read
schemas, broadcast vs shuffle joins, map-side partial aggregation,
top-k via TakeOrderedAndProject. tests/test_plans.py pins them per
query so an optimization regression fails CI, not the cluster bill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters mentions `fragment`."""
    plan = formatted(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema line of every scan in the plan (column pruning)."""
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in formatted(df).splitlines()
        if "ReadSchema:" in line
    ]


def join_kinds(df: DataFrame) -> list[str]:
    kinds = []
    for line in formatted(df).splitlines():
        for k in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        ):
            if k in line:
                kinds.append(k)
    return kinds


def has_operator(df: DataFrame, op: str) -> bool:
    return op in formatted(df)


def op_count(df: DataFrame, op: str) -> int:
    """Number of physical nodes named `op`, counted once per node via
    the formatted plan's numbered detail headers ("(3) Exchange")."""
    import re

    return len(re.findall(rf"^\(\d+\) {op}\b", formatted(df), flags=re.M))
