"""Ingestion-layer tests: HTML extraction semantics (S2/P1-P3) and the
three writer semantics (SURVEY.md §1.4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from master_airflow_spark.operators.ingest import RUN_DATE, SAMPLE_PAGES
from master_airflow_spark.sinks.writers import (
    fan_out,
    latest_per_key,
    write_append,
    write_keyed_upsert,
)
from master_airflow_spark.sources.html_extract import scrape_pipeline


@pytest.fixture(scope="module")
def scraped(spark):
    pages = spark.createDataFrame(SAMPLE_PAGES, "page_id long, html string")
    return scrape_pipeline(pages, RUN_DATE).cache()


def test_zip_truncates_to_shortest(scraped):
    # page 2 has 2 price cells but only 1 usercell → 1 row survives
    assert scraped.where("page_id = 2").count() == 1
    assert scraped.count() == 4


def test_whitespace_normalized(scraped):
    stations = {r.station for r in scraped.collect()}
    assert "Esso Du Commerce / René Lévesque" in stations  # b-tag fragments joined
    assert "Petro-Canada Atwater" in stations  # inner runs collapsed


def test_bounded_split_time_user(scraped):
    rows = {r.station: (r.time, r.user) for r in scraped.collect()}
    assert rows["Esso Du Commerce / René Lévesque"] == ("06:46", "gaswatcher")
    assert rows["Shell Centre-Ville"] == ("07:12", "")  # no user → ''
    assert rows["Petro-Canada Atwater"] == ("08:03", "early bird")  # maxsplit=1


def test_typed_price_and_doc(scraped):
    r = scraped.where("station = 'Shell Centre-Ville'").collect()[0]
    assert r.price == 99.9
    assert r.obj_key == RUN_DATE + "Shell Centre-Ville"
    assert '"price":"99.9"' in r.doc  # doc keeps the string form


def test_append_duplicates_on_rerun(scraped, tmp_path):
    path = str(tmp_path / "append")
    write_append(scraped, path)
    write_append(scraped, path)
    assert scraped.sparkSession.read.parquet(path).count() == 2 * scraped.count()


def test_keyed_upsert_idempotent(scraped, tmp_path):
    path = str(tmp_path / "upsert")
    keys, order = ["date", "station"], ["page_id"]
    write_keyed_upsert(scraped, path, keys, order)
    once = sorted(
        map(tuple, scraped.sparkSession.read.parquet(path).drop("date").collect())
    )
    write_keyed_upsert(scraped, path, keys, order)  # idempotency law
    twice = sorted(
        map(tuple, scraped.sparkSession.read.parquet(path).drop("date").collect())
    )
    assert once == twice
    assert len(once) == 4  # one row per (date, station)


def test_keyed_upsert_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "lww")
    v1 = spark.createDataFrame(
        [("2026-08-13", "StationA", 100.0, 1)], "date string, station string, price double, seq int"
    )
    v2 = spark.createDataFrame(
        [("2026-08-13", "StationA", 120.0, 2)], "date string, station string, price double, seq int"
    )
    write_keyed_upsert(v1, path, ["date", "station"], ["seq"])
    write_keyed_upsert(v2, path, ["date", "station"], ["seq"])
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 1 and rows[0].price == 120.0


def test_keyed_upsert_drifted_batch_raises_and_keeps_history(spark, tmp_path):
    """A batch whose columns drifted from the sink's cannot be merged.
    The upsert must raise, not overwrite the sink with the batch alone."""
    path = str(tmp_path / "drift")
    v1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double")
    write_keyed_upsert(v1, path, ["k"], ["price"])
    drifted = spark.createDataFrame([(3, 30.0, "x")], "k int, price double, extra string")
    with pytest.raises(AnalysisException):
        write_keyed_upsert(drifted, path, ["k"], ["price"])
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows == [(1, 10.0), (2, 20.0)]


def test_latest_per_key_tie_order(spark):
    df = spark.createDataFrame(
        [("k", 1, "a"), ("k", 2, "b"), ("k", 2, "a")], "key string, seq int, tag string"
    )
    out = latest_per_key(df, ["key"], ["seq", "tag"]).collect()
    assert len(out) == 1 and out[0].tag == "b" and out[0].seq == 2


def test_fan_out_writes_all_sinks(scraped, tmp_path):
    paths = [str(tmp_path / f"sink{i}") for i in range(3)]
    fan_out(scraped, [lambda df, p=p: df.write.parquet(p) for p in paths])
    for p in paths:
        assert scraped.sparkSession.read.parquet(p).count() == scraped.count()
