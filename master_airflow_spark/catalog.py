"""Table catalog: load the driver's parquet tables and register views.

The reference declares its schema implicitly per sink (SURVEY.md §1.2);
here the parquet footer is the single schema authority and tables are
exposed uniformly as DataFrames / temp views. Reads are
``spark.read.schema(s).parquet`` so Catalyst gets predicate pushdown,
column pruning, and (on partitioned layouts) partition pruning for free.

``s`` comes from one process-wide schema cache (``parquet_schema``).
Inferring a parquet schema is a Spark job (~75-115 ms of driver time
per table open at any scale); a cache hit reads with the schema the
inference returned and launches none. The entry is keyed on the table
path, its ``table_fingerprint`` (the part files' name, mtime, size and
inode), ``spark.version`` and the session confs that steer parquet
schema inference, so a rewritten table or a flipped conf re-infers.
The entry also holds the ``_nanos_timestamp_cols`` footer result. A
table with an empty fingerprint (missing or unreadable) is never
cached. The cache holds no Spark state, only schemas that invalidate
themselves, so it survives ``registry.release_caches()`` and session
restarts: releasing it per query would give the saving back.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_part_stats(path: str) -> list[tuple[str, int, int, int]]:
    """Driver-side (os.stat, no Spark job) identity of a parquet table
    at ``path`` — a single file, or a directory tree of part files
    (``partitionBy`` layouts nest them under ``k=v/`` dirs) — as
    (name, mtime_ns, size, ino) tuples sorted by name, where name is
    the part's path relative to ``path`` (the basename for a single
    file). Empty list if the path is missing. The ONE walker behind
    every table fingerprint and size gate in the repo (the schema cache,
    near-dup probe cache invalidation, size-adaptive state partitioning,
    scale-probe staging markers, table_bytes, the ns-column footer
    probe).

    st_ino is folded in (round-11 ADVICE) so a corpus replaced by a
    timestamp-preserving copy (cp -p / rsync -t, same names and sizes)
    still changes the fingerprint: the copy is a new inode even when
    mtime/size collide. Remaining blind spot: an in-place overwrite
    that preserves the inode AND restores mtime AND lands on the same
    byte size — outside what stat() can distinguish."""
    try:
        if os.path.isdir(path):
            out = []
            for root, _, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        full = os.path.join(root, f)
                        st = os.stat(full)
                        name = os.path.relpath(full, path)
                        out.append((name, st.st_mtime_ns, st.st_size, st.st_ino))
            return sorted(out)
        st = os.stat(path)
        return [(os.path.basename(path), st.st_mtime_ns, st.st_size, st.st_ino)]
    except OSError:
        return []


def table_fingerprint(path: str) -> tuple:
    """Driver-side identity of the parquet table at ``path``: its
    parquet_part_stats as a tuple, empty if the path is missing. The
    one key every fingerprint-keyed cache compares (the schema cache
    below, the near-dup probe cache, serve.py's stored rows)."""
    return tuple(parquet_part_stats(path))


def table_bytes(sf_dir: str, name: str) -> int:
    """Total on-disk parquet bytes of a table — single file OR a
    directory tree of part files (summed via parquet_part_stats, the
    one walker). Size gates MUST use this instead of os.path.getsize: on
    a directory-layout table (any Spark-written output, e.g. the
    scale-probe replicas) getsize returns the directory inode's size
    (~4-16 KB), which would silently hold a "small side" broadcast
    hint open at any data volume."""
    return sum(s[2] for s in parquet_part_stats(table_path(sf_dir, name)))


# Fact-probe broadcast gate (q5 and revenue_by_nation): hint the pruned
# (orders ⋈ customer-keys) build side only while the orders parquet is
# under this many table_bytes. Past it the hint drops and the bushy
# join tree shuffles both fact legs, the only plan that works at
# 100 TB. 64 MB of orders parquet is well under a 10 MB hashed
# relation after the region prune and 2-column projection.
FACT_BROADCAST_ORDERS_BYTES = 64 << 20


def broadcast_if(
    df: DataFrame, sf_dir: str, table: str, lo: int, hi: int
) -> DataFrame:
    """``df`` with a broadcast hint while ``table``'s table_bytes lie in
    [lo, hi), else ``df`` unchanged. Fails safe: 0 bytes means the size
    is unknown (a missing table, or part files without a ``.parquet``
    suffix that the walker does not count), and an unknown size is
    never hinted, whatever ``lo`` is. The one gate behind every
    size-based broadcast hint (q5, revenue_by_nation, q18's band)."""
    n = table_bytes(sf_dir, table)
    return F.broadcast(df) if 0 < n and lo <= n < hi else df


def ensure_session_defaults(spark: SparkSession) -> None:
    """Set the runtime-settable confs the engine's semantics depend on.

    Queries may run under a SparkSession the caller built (the driver
    constructs its own) — session.get_spark's build-time configuration
    can't be assumed. On runtimes without a native parquet ns type
    (Spark ≤4.0) the events-table read dies on PARQUET_TYPE_ILLEGAL
    unless nanosAsLong is set (4.1+ reads TIMESTAMP(NANOS) natively as
    TIMESTAMP_NTZ and ignores the flag — harmless); without a UTC
    session timezone, timestamp-derived values shift against the
    oracle. Both are runtime-settable; setting them per load is an
    idempotent no-op when already configured."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS).

    How Spark surfaces these depends on version: ≤4.0 has no ns type
    and needs spark.sql.legacy.parquet.nanosAsLong (column arrives as
    bigint raw nanos); 4.1+ reads them natively as TIMESTAMP_NTZ,
    µs-truncated — same floor DuckDB applies at read time.

    `path` may be a single parquet file (the driver testdata layout) or
    a directory of part files (the production layout Spark writes) —
    every part shares the footer schema, so the first one answers."""
    if os.path.isdir(path):
        parts = parquet_part_stats(path)
        if not parts:
            return []
        path = os.path.join(path, parts[0][0])
    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    ]


# Session confs whose value changes the schema parquet inference
# returns for the same files (ns timestamps as longs, binary as string,
# INT96 as timestamp, timestamp NTZ inference, schema merging across
# parts, typed partition values). Part of every schema-cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# path -> (key, inferred schema, ns-timestamp columns). One entry per
# path: a rewritten table or a flipped conf replaces it. An entry is
# stored whole by one assignment, so threads racing on a miss (the
# HTTP server's request threads) at worst infer twice.
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType, tuple[str, ...]]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple:
    return (
        table_fingerprint(path),
        spark.version,
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )


def parquet_schema(
    spark: SparkSession, path: str
) -> tuple[StructType, tuple[str, ...]]:
    """(schema, ns-timestamp columns) of the parquet table at ``path``,
    as ``spark.read.parquet(path)`` infers it under the session's
    current confs. Served from the schema cache while the key matches;
    otherwise inferred (one Spark job; raises on a missing table as the
    plain read does) and cached when the fingerprint is non-empty and
    unchanged across the inference."""
    key = _schema_key(spark, path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == key:
        return hit[1], hit[2]
    schema = spark.read.parquet(path).schema
    ns_cols = tuple(_nanos_timestamp_cols(path))
    if key[0] and _schema_key(spark, path) == key:
        _SCHEMA_CACHE[path] = (key, schema, ns_cols)
    return schema, ns_cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_defaults(spark)
    path = table_path(sf_dir, name)
    schema, ns_cols = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if ns_cols and dtypes.get(ns_cols[0]) == "bigint":
        # Legacy nanosAsLong read: integer ns→µs floor (`div`, not `/`:
        # ns values exceed double's 2^53 integer range), matching
        # DuckDB's read-time truncation.
        for c in ns_cols:
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    # Native TIMESTAMP_NTZ read (Spark 4.1+) needs no conversion: the
    # wall clock equals the legacy µs-floored value under the UTC
    # session timezone, and leaving the column untouched keeps
    # timestamp predicates pushable into the parquet scan (the legacy
    # long→timestamp projection blocked that).
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
