"""Serving layer — the reference's two HTTP APIs as engine functions.

The reference serves one analytical question through FastAPI+Mongo
(today's high/low, api/mongo/main.py:63-77) and Flask+Postgres
(all-time high/low, api/postgres/api.py:16-33), opening a new DB
connection per request and running two sorted scans. Here the serving
payloads come straight from the registered queries — one SparkContext,
single-pass plans — and return the reference's exact response shape:
``{"highest_price": {...}, "lowest_price": {...}}``. An HTTP framework
can wrap these 1:1 (kept out: no web dependencies in the engine).

Reuse and invalidation. Both endpoints run on a serving session of
this module's own: ``spark.newSession()`` of the caller's session,
made on the caller's first miss. It shares the caller's SparkContext,
gets ``catalog.ensure_session_defaults`` once, and nothing outside this
module holds it, so its confs (the parquet inference confs among them)
and ``spark.version`` cannot change while a stored answer lives. Each
endpoint keeps the rows its top-1 plan collected on that session, one
entry per lineitem path, keyed on the caller session object and
lineitem's ``catalog.table_fingerprint`` (every part file's name,
mtime, size and inode). A request reuses the entry only when the
caller is the same object and the fingerprint is equal and non-empty;
it then builds the payload from the stored rows with an ``os.stat``
walk and a dict lookup, and makes no JVM call. Any other request is a
miss: it builds the plan again through ``top1_price_today`` /
``top1_price_alltime`` on the serving session, collects it under the
endpoint's job tag, and stores the rows only when the collect
succeeded and the fingerprint read after it equals the one read before
it, so a failed or raced miss stores nothing. One miss per endpoint
and table runs at a time; concurrent requests wait for it and then
hit. A miss for another caller session replaces the serving session
and drops every stored entry, so the module holds the state of one
caller at a time, never that of a stopped one that was replaced.

So an answer depends on the table version and on the confs the
serving session has: those the caller's session was built with, which
it inherits, and ``ensure_session_defaults``. Runtime conf changes
made to the caller's session after it was built do not affect it, and
serving never sets a conf on the caller's session. This is result
reuse bounded by the table version: a rewrite of lineitem (which
changes its fingerprint) is what makes the next request read the data
again. The registered queries themselves stay fresh on every call."""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

from master_airflow_spark.catalog import ensure_session_defaults, table_fingerprint, table_path
from master_airflow_spark.operators.topk import top1_price_alltime, top1_price_today

# (caller session, its serving session); replaced on another caller's
# miss. _LOCK guards replacing it and storing into _PREPARED.
_SERVING: tuple[SparkSession, SparkSession] | None = None
# (endpoint, lineitem path) -> (caller session, fingerprint, collected
# rows). Hits read it without a lock; a miss runs under its slot's lock.
_PREPARED: dict[tuple[str, str], tuple[SparkSession, tuple, list[Row]]] = {}
_SLOT_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LOCK = threading.Lock()
_LAST = threading.local()


def plan_reused() -> bool | None:
    """Whether the calling thread's last serving call was served from
    stored rows (None before its first call)."""
    return getattr(_LAST, "reused", None)


def _stored(spark: SparkSession, slot: tuple[str, str]) -> tuple[tuple, list[Row] | None]:
    """(lineitem's current fingerprint, the slot's rows if they are
    still valid for ``spark``). Reads no Spark state."""
    fp = table_fingerprint(slot[1])
    hit = _PREPARED.get(slot)
    if hit is not None and hit[0] is spark and hit[1] == fp and fp:
        return fp, hit[2]
    return fp, None


def _serving_session(spark: SparkSession) -> SparkSession:
    """The serving session of caller ``spark``, made on first use; a new
    caller replaces the previous one's session and stored rows."""
    global _SERVING
    with _LOCK:
        if _SERVING is None or _SERVING[0] is not spark:
            session = spark.newSession()
            ensure_session_defaults(session)
            _PREPARED.clear()
            _SERVING = (spark, session)
        return _SERVING[1]


def _serve(
    spark: SparkSession, sf_dir: str, endpoint: str, build: Callable[[SparkSession], DataFrame]
) -> dict[str, dict[str, Any]]:
    slot = (endpoint, table_path(sf_dir, "lineitem"))
    _LAST.reused = True
    _, rows = _stored(spark, slot)
    if rows is None:
        with _SLOT_LOCKS.setdefault(slot, threading.Lock()):
            # a miss that held the lock meanwhile may have stored them
            fp, rows = _stored(spark, slot)
            if rows is None:
                _LAST.reused = False
                session = _serving_session(spark)
                sc = session.sparkContext
                sc.addJobTag(endpoint)
                try:
                    rows = build(session).collect()
                finally:
                    sc.removeJobTag(endpoint)
                if fp and table_fingerprint(slot[1]) == fp:
                    with _LOCK:
                        # not if another caller replaced the state meanwhile
                        if _SERVING[1] is session:
                            _PREPARED[slot] = (spark, fp, rows)
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
    return _serve(spark, sf_dir, "/prices/today", lambda s: top1_price_today(s, sf_dir))


def get_prices_alltime(spark: SparkSession, sf_dir: str) -> dict[str, dict[str, Any]]:
    """EP3 parity: all-time highest & lowest price rows."""
    return _serve(spark, sf_dir, "/prices/alltime", lambda s: top1_price_alltime(s, sf_dir))
