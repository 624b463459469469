"""Contract tests for the JDBC writer options and the native PPM
decode branch (the one codec path that runs without PIL/ffmpeg)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from master_airflow_spark.operators.multimodal import decode_ppm
from master_airflow_spark.sinks.writers import jdbc_options


def test_jdbc_options_contract():
    opts = jdbc_options(
        "jdbc:postgresql://db:5432/prices",
        "public.prices",
        batchsize=5000,
        isolation_level="REPEATABLE_READ",
        truncate=True,
        properties={"user": "ingest", "reWriteBatchedInserts": "true"},
    )
    assert opts["url"] == "jdbc:postgresql://db:5432/prices"
    assert opts["dbtable"] == "public.prices"
    assert opts["batchsize"] == "5000"  # stringified for DataFrameWriter
    assert opts["isolationLevel"] == "REPEATABLE_READ"
    assert opts["truncate"] == "true"
    assert opts["user"] == "ingest"
    assert opts["reWriteBatchedInserts"] == "true"


def test_jdbc_options_defaults_and_validation():
    opts = jdbc_options("jdbc:h2:mem:t", "t")
    assert opts["batchsize"] == "10000"
    assert opts["isolationLevel"] == "READ_COMMITTED"
    assert opts["truncate"] == "false"
    with pytest.raises(ValueError, match="batchsize"):
        jdbc_options("jdbc:h2:mem:t", "t", batchsize=0)


def _ppm(w: int, h: int, comment: bool = False) -> bytes:
    header = b"P6\n"
    if comment:
        header += b"# a comment line\n"
    header += f"{w} {h}\n255\n".encode()
    pixels = bytes((x * 7) % 256 for x in range(3 * w * h))
    return header + pixels


def test_decode_ppm_roundtrip():
    w, h, rgb = decode_ppm(_ppm(4, 3))
    assert (w, h) == (4, 3)
    assert len(rgb) == 36
    # comments in the header are skipped per the PPM spec
    assert decode_ppm(_ppm(2, 2, comment=True))[:2] == (2, 2)


def test_decode_ppm_errors():
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(_ppm(4, 3)[:-5])
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n2 2\n65535\n" + b"\0" * 24)


def test_write_jdbc_rejects_bad_batchsize(spark):
    from master_airflow_spark.sinks.writers import write_jdbc

    df = spark.range(3)
    with pytest.raises(ValueError, match="batchsize"):
        write_jdbc(df, "jdbc:h2:mem:t", "t", batchsize=-1)


def test_write_jdbc_surfaces_missing_driver(spark):
    """Without a JDBC driver jar the save must fail loudly (no silent
    success) — pins that the options actually reach the JDBC source."""
    from py4j.protocol import Py4JJavaError

    from master_airflow_spark.sinks.writers import write_jdbc

    df = spark.range(3).select(F.col("id").alias("v"))
    with pytest.raises(Exception) as ei:
        write_jdbc(df, "jdbc:nosuchdb://nowhere/x", "t", num_partitions=1)
    assert isinstance(ei.value, Py4JJavaError) or "driver" in str(ei.value).lower()


def test_write_es_bulk_format(spark, tmp_path):
    import glob
    import json

    from master_airflow_spark.sinks.writers import write_es_bulk

    df = spark.createDataFrame(
        [(1, "alpha", 9.5), (2, "beta", 1.25)], "doc_id long, name string, score double"
    )
    out = str(tmp_path / "bulk")
    write_es_bulk(df, out, index="prices", id_col="doc_id")

    lines = []
    for f in sorted(glob.glob(out + "/part-*")):
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == 4  # action + doc per row
    pairs = {json.loads(a)["index"]["_id"]: json.loads(d)
             for a, d in zip(lines[::2], lines[1::2])}
    for a in lines[::2]:
        assert json.loads(a)["index"]["_index"] == "prices"
    assert pairs["1"]["name"] == "alpha" and pairs["2"]["score"] == 1.25


def test_write_mongoimport_jsonl_append(spark, tmp_path):
    import glob
    import json

    from master_airflow_spark.sinks.writers import write_mongoimport_jsonl

    df = spark.createDataFrame([(1, "x")], "k long, v string")
    out = str(tmp_path / "mongo")
    write_mongoimport_jsonl(df, out)
    write_mongoimport_jsonl(df, out)  # append: duplicates on re-run
    rows = []
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            rows += [json.loads(ln) for ln in fh.read().splitlines() if ln]
    assert rows == [{"k": 1, "v": "x"}, {"k": 1, "v": "x"}]
