"""Plan-assertion helpers for the plan-shape tests: each parses the
explain("formatted") text of a DataFrame for one property that decides
scale behavior — filters reaching the parquet scan, pruned read
schemas, broadcast vs shuffle joins, operator presence and counts."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from master_airflow_spark.plans.explain import formatted


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
    return len(re.findall(rf"^\(\d+\) {op}\b", formatted(df), flags=re.M))
