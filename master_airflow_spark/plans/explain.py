"""Plan introspection — the engine's "is this the plan I'd want at
100 TB?" view.

``formatted(df)`` returns the physical plan in explain("formatted")
form. scripts/plans.py dumps it per headline query, and the plan-shape
tests (tests/test_plans.py, helpers in tests/plan_asserts.py) parse it
for the properties that decide scale behavior, so an optimization
regression fails CI, not the cluster bill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same as .explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )
