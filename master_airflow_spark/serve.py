"""Serving layer — the reference's two HTTP APIs as engine functions.

The reference serves one analytical question through FastAPI+Mongo
(today's high/low, api/mongo/main.py:63-77) and Flask+Postgres
(all-time high/low, api/postgres/api.py:16-33), opening a new DB
connection per request and running two sorted scans. Here the serving
payloads come straight from the registered queries — one SparkSession,
single-pass plans — and return the reference's exact response shape:
``{"highest_price": {...}, "lowest_price": {...}}``. An HTTP framework
can wrap these 1:1 (kept out: no web dependencies in the engine).

Reuse and invalidation. Each endpoint keeps the rows its top-1 plan
collected, one entry per lineitem path, stored with the SparkSession
they were collected on and with ``catalog._schema_key(spark, path)`` —
the key the schema cache uses: the table fingerprint (every part
file's name, mtime, size and inode), ``spark.version`` and the parquet
inference confs. A request reuses the entry only when the session is
the same object, the key is equal and the fingerprint is non-empty; it
then builds the payload from the stored rows and runs no Spark job.
Any other request is a miss: it builds the plan again through
``top1_price_today`` / ``top1_price_alltime``, collects it under the
endpoint's job tag, and stores the rows only when the collect
succeeded and the key read after it equals the key read before it (the
schema cache's guard), so a failed or raced miss stores nothing. This
is result reuse bounded by the table version: a rewrite of lineitem
(which changes its fingerprint) is what makes the next request read
the data again. One miss per endpoint and table runs at a time;
concurrent requests wait for it and then hit. The registered queries
themselves stay fresh on every call."""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

from master_airflow_spark.catalog import _schema_key, ensure_session_defaults, table_path
from master_airflow_spark.operators.topk import top1_price_alltime, top1_price_today

# (endpoint, lineitem path) -> (session, schema key, collected rows).
# Hits read it without a lock; a miss runs under its slot's lock.
_PREPARED: dict[tuple[str, str], tuple[SparkSession, tuple, list[Row]]] = {}
_SLOT_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LAST = threading.local()


def plan_reused() -> bool | None:
    """Whether the calling thread's last serving call was served from
    stored rows (None before its first call)."""
    return getattr(_LAST, "reused", None)


def _stored(spark: SparkSession, slot: tuple[str, str]) -> tuple[tuple, list[Row] | None]:
    """(current schema key, the slot's rows if they are still valid)."""
    key = _schema_key(spark, slot[1])
    hit = _PREPARED.get(slot)
    if hit is not None and hit[0] is spark and hit[1] == key and key[0]:
        return key, hit[2]
    return key, None


def _serve(
    spark: SparkSession, sf_dir: str, endpoint: str, build: Callable[[], DataFrame]
) -> dict[str, dict[str, Any]]:
    slot = (endpoint, table_path(sf_dir, "lineitem"))
    # load_table sets these on a miss; set them first so the key read
    # before the build equals the one read on the next request.
    ensure_session_defaults(spark)
    _LAST.reused = True
    _, rows = _stored(spark, slot)
    if rows is None:
        with _SLOT_LOCKS.setdefault(slot, threading.Lock()):
            # a miss that held the lock meanwhile may have stored them
            key, rows = _stored(spark, slot)
            if rows is None:
                _LAST.reused = False
                sc = spark.sparkContext
                sc.addJobTag(endpoint)
                try:
                    rows = build().collect()
                finally:
                    sc.removeJobTag(endpoint)
                if key[0] and _schema_key(spark, slot[1]) == key:
                    _PREPARED[slot] = (spark, key, rows)
    return _payload(rows)


def _payload(rows: list[Row]) -> dict[str, dict[str, Any]]:
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
