from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from master_airflow_spark.session import get_spark

    s = get_spark(app_name="mas-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def price_oracle():
    """``price_oracle(sf_dir)`` -> the expected body of each /prices/*
    route: the DuckDB answer to the registered oracle SQL over
    ``sf_dir``'s lineitem, shaped as the server's response."""
    import duckdb

    from master_airflow_spark import registry
    from master_airflow_spark.catalog import table_path

    registry._ensure_loaded()

    def payloads(sf_dir: str) -> dict[str, dict]:
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, 'lineitem')}')"
            )
            out = {}
            for route, query in (("/prices/today", "top1_price_today"),
                                 ("/prices/alltime", "top1_price_alltime")):
                out[route] = {
                    f"{which}_price": {"price": price, "l_orderkey": okey, "l_linenumber": line}
                    for which, price, okey, line in con.execute(registry.REGISTRY[query].oracle).fetchall()
                }
            return out
        finally:
            con.close()

    return payloads


@pytest.fixture()
def lineitem_dir(tmp_path, sf_dir) -> str:
    """A private table directory holding a copy of ``sf_dir``'s lineitem,
    so a test can rewrite it and starts with no stored serving rows."""
    import shutil

    from master_airflow_spark.catalog import table_path

    src, dst = table_path(sf_dir, "lineitem"), table_path(str(tmp_path), "lineitem")
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)
    return str(tmp_path)
