"""Writer layer — the three write semantics the reference's four sinks
imply (SURVEY.md §1.4), as engine-level operations:

- append          (Mongo insert_one / Postgres INSERT / ES index:
                   duplicates on re-run)
- keyed upsert    (MinIO object key = date+station: last-write-wins
                   per key, idempotent re-runs)
- idempotent DDL  (CREATE TABLE IF NOT EXISTS)

plus the O5 fan-out fix: the reference scrapes the same page once per
sink (4×); here one cached DataFrame feeds N writers.

All writes are partition-parallel ``df.write`` — the reference's
row-at-a-time round-trips (1 insert/row) become batched parquet/JDBC
partitions. Parquet stands in for the external sinks (the engine's
internal format); the semantics, not the wire protocol, are the
contract. The keyed upsert reads the whole sink, merges the batch in
and rewrites the whole sink as one unpartitioned overwrite, so its cost
grows with the sink's history, not with the batch.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from master_airflow_spark.catalog import parquet_part_stats


def write_append(df: DataFrame, path: str) -> None:
    """Append semantics: re-runs duplicate (the Mongo/Postgres/ES
    behavior, reference dags/get_prices_load_mongodb.py:66)."""
    df.write.mode("append").parquet(path)


def latest_per_key(df: DataFrame, keys: list[str], order: list[str]) -> DataFrame:
    """Last-write-wins per key: highest `order` tuple survives."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def write_keyed_upsert(
    df: DataFrame,
    path: str,
    keys: list[str],
    order: list[str],
) -> None:
    """Keyed last-write-wins upsert (the MinIO object-key overwrite,
    reference dags/get_prices_load_minio.py:80): merge incoming rows
    with existing data, keep one row per key. Idempotent: writing the
    same batch twice equals writing it once.

    Batch-merge implementation: read-merge-overwrite. On a real
    deployment this is a Delta/Iceberg MERGE INTO keyed on the same
    columns; the dedup window (shuffle on the key) is identical.

    "First write" means no parquet part under ``path``. Any other
    failure to read or merge the existing data (a batch whose columns
    drifted from the sink's, an unreadable part) raises and leaves the
    sink untouched: overwriting it with the incoming batch alone would
    delete its history.
    """
    if parquet_part_stats(path):
        merged = df.sparkSession.read.parquet(path).unionByName(df)
    else:  # first write — nothing to merge
        merged = df
    result = latest_per_key(merged, keys, order).localCheckpoint(eager=True)
    result.write.mode("overwrite").parquet(path)


def jdbc_options(
    url: str,
    table: str,
    *,
    batchsize: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    truncate: bool = False,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Option set for Spark's JDBC writer — the real W2 wire path
    (reference dags/get_prices_load_postgres.py:59-65 does one INSERT
    per row over psycopg2; Spark's JDBC sink batches ``batchsize``
    rows per executeBatch round trip, one connection per partition).
    Kept as a pure function so the contract is unit-testable without a
    database in the loop."""
    if batchsize < 1:
        raise ValueError(f"batchsize must be >= 1, got {batchsize}")
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batchsize),
        "isolationLevel": isolation_level,
        "truncate": str(truncate).lower(),
    }
    opts.update(properties or {})
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    num_partitions: int | None = None,
    **kwargs,
) -> None:
    """Append rows to an external RDBMS table over JDBC (W2). ``mode``
    follows DataFrameWriter semantics; ``num_partitions`` caps the
    concurrent connections (repartition before write — at scale, N
    partitions = N parallel COPY-ish streams; size it to what the
    database can absorb, not to the cluster)."""
    if num_partitions:
        df = df.repartition(num_partitions)
    writer = df.write.format("jdbc").mode(mode)
    for k, v in jdbc_options(url, table, **kwargs).items():
        writer = writer.option(k, v)
    writer.save()


def write_es_bulk(
    df: DataFrame, path: str, index: str, id_col: str | None = None
) -> None:
    """W3's real wire format without a live cluster: Elasticsearch
    ``_bulk`` NDJSON — an action line ``{"index": {"_index": ...,
    "_id": ...}}`` followed by the document source line, per row
    (reference dags/get_prices_load_elasticsearch.py:52-63 indexes one
    doc per HTTP call; bulk batches are how that's done at scale).
    Partition-parallel text write; each output file is a valid _bulk
    request body ready to POST. Providing ``id_col`` makes re-runs
    idempotent (ES overwrites by _id), mirroring the keyed-upsert
    semantics."""
    meta_fields = [F.lit(index).alias("_index")]
    if id_col:
        meta_fields.append(F.col(id_col).cast("string").alias("_id"))
    action = F.to_json(F.struct(F.struct(*meta_fields).alias("index")))
    doc = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    df.select(F.concat_ws("\n", action, doc).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def write_mongoimport_jsonl(df: DataFrame, path: str) -> None:
    """W1's ingest format without a live server: JSON-lines exactly as
    ``mongoimport`` consumes (reference dags/get_prices_load_mongodb.py
    :51-66 does insert_one per row). Partition-parallel; append mode =
    the reference's duplicate-on-rerun semantics."""
    df.write.mode("append").json(path)


def fan_out(df: DataFrame, writers: list[Callable[[DataFrame], None]]) -> None:
    """O5: one materialized batch, N sinks — fixes the reference's
    4× re-extract (four DAGs each re-scraping the same page). persist()
    computes the lineage once; each writer reuses the cached
    partitions."""
    df.persist()
    try:
        for w in writers:
            w(df)
    finally:
        df.unpersist()
