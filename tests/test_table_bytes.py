"""table_bytes must measure DATA bytes for both table layouts.

The q5 / revenue_by_nation fact-probe broadcast gates compare the
orders table's on-disk size against a 64 MB bound. os.path.getsize
returns the directory INODE size (~4-16 KB) for a directory-layout
table (any Spark-written output), which would hold the "small build
side" broadcast hint open at any data volume — the exact failure the
gate exists to prevent. table_bytes sums the part files instead.
"""

from __future__ import annotations

import os

from master_airflow_spark.catalog import (
    _nanos_timestamp_cols,
    broadcast_if,
    parquet_part_stats,
    table_bytes,
)


def test_single_file_table(tmp_path):
    p = tmp_path / "orders.parquet"
    p.write_bytes(b"x" * 1234)
    assert table_bytes(str(tmp_path), "orders") == 1234


def test_directory_table_sums_parts_not_inode(tmp_path):
    d = tmp_path / "orders.parquet"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"a" * 1000)
    (d / "part-00001.parquet").write_bytes(b"b" * 2000)
    (d / "_SUCCESS").write_bytes(b"")  # non-parquet markers don't count
    assert table_bytes(str(tmp_path), "orders") == 3000
    # the bug being pinned: getsize on the directory is the inode size
    assert os.path.getsize(str(d)) != 3000


def test_missing_table_is_zero(tmp_path):
    assert table_bytes(str(tmp_path), "orders") == 0


def test_broadcast_if_never_hints_an_unknown_size(tmp_path):
    """0 bytes (missing table, or parts without a .parquet suffix) is an
    unknown size: broadcast_if returns its input unhinted even when the
    band starts at 0. The sentinel stands in for a DataFrame, since an
    unhinted input is returned untouched."""
    df = object()
    assert broadcast_if(df, str(tmp_path), "orders", 0, 1 << 40) is df
    d = tmp_path / "orders.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"x" * 100)
    assert broadcast_if(df, str(tmp_path), "orders", 0, 1 << 40) is df


def test_partitioned_table_walks_nested_dirs(tmp_path):
    """partitionBy layout (k=v/part-*.parquet): every part sits one
    level down, so a flat listing would size the table at 0 bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "orders.parquet"
    for k in (1, 2):
        (d / f"k={k}").mkdir(parents=True)
        ts = pa.array([k], pa.timestamp("ns"))
        pq.write_table(pa.table({"ts": ts}), str(d / f"k={k}" / "part-0.parquet"))
    stats = parquet_part_stats(str(d))
    assert [s[0] for s in stats] == ["k=1/part-0.parquet", "k=2/part-0.parquet"]
    total = sum(os.path.getsize(d / s[0]) for s in stats)
    assert total > 0
    assert table_bytes(str(tmp_path), "orders") == total
    # the ns-column footer probe reads its first part from the same walk
    assert _nanos_timestamp_cols(str(d)) == ["ts"]
