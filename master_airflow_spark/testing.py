"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's CORRECTNESS check — same parquet inputs, oracle
SQL run in DuckDB with every table pre-registered as a view, results
compared order-insensitively after sorting columns by name — so any
mismatch the driver would flag fails locally first.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from master_airflow_spark.catalog import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Every table of ``sf_dir`` as a DuckDB view. A table directory
    (Spark-written parts, or partitionBy's nested ``k=v/`` dirs) is read
    through a recursive glob: DuckDB finds no files under a bare
    directory path, and ``<dir>/*.parquet`` misses the nested parts."""
    con = duckdb.connect()
    for name in TABLES:
        p = table_path(sf_dir, name)
        if os.path.isdir(p):
            p = os.path.join(p, "**", "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v: object) -> object:
    """Canonicalize a cell so engine-side representation differences
    (date vs datetime, numpy scalars) don't read as value differences.
    Floats stay exact — determinism is engineered in the queries, not
    papered over here. Decimal is deliberately NOT coerced to float:
    the driver hashes raw representations, so a Spark DECIMAL output
    against a DuckDB DOUBLE oracle is a driver failure and must fail
    here too (round-1 `math_conditional` lesson)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return f"Decimal({v})"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        # normalize with midnight datetimes: one engine may hand back a
        # date object where the other hands back a midnight Timestamp
        return datetime.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        raise TypeError(
            "array-typed output cell: the driver's canonicalizer "
            "(pandas sort_values -> Categorical factorize) crashes on "
            "list cells — serialize arrays to strings or explode to "
            "one row per element in the judged query"
        )
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    if isinstance(v, bytes):
        return v.hex()
    return v


def _cell(v: object) -> object:
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple)) or (
        hasattr(v, "__len__") and not isinstance(v, (str, bytes, dict))
    ):
        # numpy array / list column — same driver crash as list cells
        return _canon(list(v))
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return _canon(v)


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = [tuple(_cell(v) for v in t) for t in df[cols].itertuples(index=False, name=None)]
    return sorted(out, key=repr)


@dataclass
class DiffResult:
    name: str
    spark_rows: int
    oracle_rows: int
    mismatches: list[str]

    @property
    def ok(self) -> bool:
        return not self.mismatches


def compare(
    name: str, spark_df: DataFrame, con: duckdb.DuckDBPyConnection, oracle: str
) -> DiffResult:
    sp = spark_df.toPandas()
    du = con.execute(oracle).df()
    mism: list[str] = []
    if sorted(sp.columns) != sorted(du.columns):
        mism.append(f"columns: spark={sorted(sp.columns)} oracle={sorted(du.columns)}")
        return DiffResult(name, len(sp), len(du), mism)
    if len(sp) != len(du):
        mism.append(f"rowcount: spark={len(sp)} oracle={len(du)}")
    srows, drows = _rows(sp), _rows(du)
    if srows != drows:
        shown = 0
        sset = {r: srows.count(r) for r in srows}
        dset = {r: drows.count(r) for r in drows}
        for r in sset:
            if sset[r] != dset.get(r, 0) and shown < 5:
                mism.append(f"spark-only row (x{sset[r]} vs {dset.get(r, 0)}): {r}")
                shown += 1
        for r in dset:
            if dset[r] != sset.get(r, 0) and shown < 10:
                mism.append(f"oracle-only row (x{dset[r]} vs {sset.get(r, 0)}): {r}")
                shown += 1
        if not mism:
            mism.append("rows differ (ordering of equal multisets?) — internal error")
    return DiffResult(name, len(sp), len(du), mism)


def run_one(
    spark: SparkSession, sf_dir: str, name: str
) -> DiffResult:
    from master_airflow_spark import registry

    spec = registry.REGISTRY[name]
    con = duckdb_connection(sf_dir)
    try:
        sdf = spec.fn(spark, sf_dir)
        if spec.oracle is None:
            n = sdf.count()
            return DiffResult(name, n, -1, [] if n >= 0 else ["negative count?"])
        return compare(name, sdf, con, spec.oracle)
    finally:
        con.close()
        registry.release_caches()  # keep executor memory flat across queries
