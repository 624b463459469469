"""Serving layer — the reference's two HTTP APIs as engine functions.

The reference serves one analytical question through FastAPI+Mongo
(today's high/low, api/mongo/main.py:63-77) and Flask+Postgres
(all-time high/low, api/postgres/api.py:16-33), opening a new DB
connection per request and running two sorted scans. Here the serving
payloads come straight from the registered queries — one SparkSession,
single-pass plans — and return the reference's exact response shape:
``{"highest_price": {...}, "lowest_price": {...}}``. An HTTP framework
can wrap these 1:1 (kept out: no web dependencies in the engine).

Reuse and invalidation. Each endpoint keeps one prepared DataFrame per
lineitem path, stored with the SparkSession it was built on and with
``catalog._schema_key(spark, path)`` — the key the schema cache uses:
the table fingerprint (every part file's name, mtime, size and inode),
``spark.version`` and the parquet inference confs. A request reuses
the entry only when the session is the same object, the key is equal
and the fingerprint is non-empty; any other request builds the plan
again through ``top1_price_today`` / ``top1_price_alltime`` and
replaces the entry, so the old plan's shuffle files become garbage for
Spark's ContextCleaner. Re-collecting a prepared DataFrame does not
scan the table again: it reuses the materialized shuffle of the first
collect, so it is result reuse bounded by the data version, and a
rewrite of lineitem (which changes its fingerprint) is what makes the
next request read the data again. The registered queries themselves
stay fresh on every call."""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from master_airflow_spark.catalog import _schema_key, ensure_session_defaults, table_path
from master_airflow_spark.operators.topk import top1_price_alltime, top1_price_today

# (endpoint, lineitem path) -> (session, schema key, prepared DataFrame).
# Only check-and-build runs under the lock; collects of one prepared
# DataFrame run concurrently from the HTTP server's request threads.
_PREPARED: dict[tuple[str, str], tuple[SparkSession, tuple, DataFrame]] = {}
_LOCK = threading.Lock()
_LAST = threading.local()


def plan_reused() -> bool | None:
    """Whether the calling thread's last serving call reused a prepared
    plan (None before its first call)."""
    return getattr(_LAST, "reused", None)


def _prepared(
    spark: SparkSession, slot: tuple[str, str], build: Callable[[], DataFrame]
) -> DataFrame:
    # load_table sets these on a miss; set them first so the key read
    # before the build equals the one read on the next request.
    ensure_session_defaults(spark)
    key = _schema_key(spark, slot[1])
    with _LOCK:
        hit = _PREPARED.get(slot)
        _LAST.reused = hit is not None and hit[0] is spark and hit[1] == key and bool(key[0])
        if _LAST.reused:
            return hit[2]
        df = build()
        _PREPARED[slot] = (spark, key, df)
        return df


def _serve(
    spark: SparkSession, sf_dir: str, endpoint: str, build: Callable[[], DataFrame]
) -> dict[str, dict[str, Any]]:
    slot = (endpoint, table_path(sf_dir, "lineitem"))
    sc = spark.sparkContext
    sc.addJobTag(endpoint)
    try:
        df = _prepared(spark, slot, build)
        try:
            return _payload(df.collect())
        except Exception:
            # A plan keeps the failed future of a failed shuffle stage
            # (a cancelled job, a lost executor), so re-collecting it
            # would fail again: drop it and let the next request build.
            with _LOCK:
                if slot in _PREPARED and _PREPARED[slot][2] is df:
                    del _PREPARED[slot]
            raise
    finally:
        sc.removeJobTag(endpoint)


def _payload(rows: list[Any]) -> dict[str, dict[str, Any]]:
    by_which = {r.which: r for r in rows}
    out = {}
    for which, key in (("highest", "highest_price"), ("lowest", "lowest_price")):
        r = by_which.get(which)
        out[key] = (
            {
                "price": r.price,
                "l_orderkey": r.l_orderkey,
                "l_linenumber": r.l_linenumber,
            }
            if r is not None
            else None
        )
    return out


def get_prices_today(spark: SparkSession, sf_dir: str) -> dict[str, dict[str, Any]]:
    """EP2 parity: today's highest & lowest price rows."""
    return _serve(spark, sf_dir, "/prices/today", lambda: top1_price_today(spark, sf_dir))


def get_prices_alltime(spark: SparkSession, sf_dir: str) -> dict[str, dict[str, Any]]:
    """EP3 parity: all-time highest & lowest price rows."""
    return _serve(spark, sf_dir, "/prices/alltime", lambda: top1_price_alltime(spark, sf_dir))
