"""Serving-layer parity: the reference's response shape, engine-backed,
and the stored-rows reuse behind it (built through the module
attributes, invalidated by a new session, tagged by endpoint)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from master_airflow_spark import serve
from master_airflow_spark.serve import get_prices_alltime, get_prices_today

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_alltime_response_shape(spark, sf_dir):
    out = get_prices_alltime(spark, sf_dir)
    assert set(out) == {"highest_price", "lowest_price"}
    hi, lo = out["highest_price"], out["lowest_price"]
    assert hi["price"] >= lo["price"]
    assert set(hi) == {"price", "l_orderkey", "l_linenumber"}


def test_today_subset_of_alltime_range(spark, sf_dir):
    today = get_prices_today(spark, sf_dir)
    alltime = get_prices_alltime(spark, sf_dir)
    assert today["highest_price"]["price"] <= alltime["highest_price"]["price"]
    assert today["lowest_price"]["price"] >= alltime["lowest_price"]["price"]


def test_miss_builds_through_module_attribute(spark, lineitem_dir, price_oracle, monkeypatch):
    """The benchmark traces plan construction by replacing
    ``serve.top1_price_today``; a miss must build through it, a hit must
    not build at all."""
    built = []
    original = serve.top1_price_today
    monkeypatch.setattr(serve, "top1_price_today",
                        lambda *a: built.append(a) or original(*a))
    want = price_oracle(lineitem_dir)["/prices/today"]
    assert get_prices_today(spark, lineitem_dir) == want
    assert (len(built), serve.plan_reused()) == (1, False)
    assert get_prices_today(spark, lineitem_dir) == want
    assert (len(built), serve.plan_reused()) == (1, True)
    # another session object on the same context never reuses the entry
    assert get_prices_today(spark.newSession(), lineitem_dir) == want
    assert (len(built), serve.plan_reused()) == (2, False)


def test_failed_miss_stores_nothing(spark, lineitem_dir, price_oracle, monkeypatch):
    """A miss whose collect fails stores no rows: the next call is a miss
    again and returns the oracle payload, and the call after it hits."""
    want = price_oracle(lineitem_dir)["/prices/alltime"]
    DataFrame = type(spark.range(1))  # the session's concrete class
    collect = DataFrame.collect
    calls = []

    def fail_once(self):
        calls.append(self)
        if len(calls) == 1:
            raise RuntimeError("stage failed")
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", fail_once)
    with pytest.raises(RuntimeError, match="stage failed"):
        get_prices_alltime(spark, lineitem_dir)
    assert serve.plan_reused() is False
    assert get_prices_alltime(spark, lineitem_dir) == want
    assert serve.plan_reused() is False
    assert get_prices_alltime(spark, lineitem_dir) == want
    assert serve.plan_reused() is True
    assert len(calls) == 2  # the hit collected nothing


def test_serving_jobs_carry_endpoint_tag(spark, lineitem_dir):
    """A miss runs its jobs under the endpoint's tag; a hit runs no Spark
    job at all, and neither leaves a tag behind on the thread."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    before = set(tracker.getJobIdsForTag("/prices/alltime"))
    get_prices_alltime(spark, lineitem_dir)
    assert serve.plan_reused() is False
    missed = set(tracker.getJobIdsForTag("/prices/alltime"))
    assert missed - before
    assert set(sc.getJobTags()) == set()
    get_prices_alltime(spark, lineitem_dir)
    assert serve.plan_reused() is True
    assert set(tracker.getJobIdsForTag("/prices/alltime")) == missed
    assert set(sc.getJobTags()) == set()


RESTART = textwrap.dedent("""
    import json, sys
    from master_airflow_spark import serve
    from master_airflow_spark.session import get_spark

    out = []
    for _ in range(2):
        spark = get_spark(app_name="serve-restart")
        spark.sparkContext.setLogLevel("ERROR")
        for _ in range(2):
            today = serve.get_prices_today(spark, sys.argv[1])
            alltime = serve.get_prices_alltime(spark, sys.argv[1])
            out.append([today, alltime, serve.plan_reused()])
        spark.stop()
    print(json.dumps(out))
""")


def test_restarted_session_rebuilds(sf_dir, price_oracle):
    """The benchmark's set-up loop stops the session and starts a new
    one in the same process; the rows stored on the stopped session
    must not be served to the new one. A process of its own, because
    stopping the suite's shared session would break every later test."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", RESTART, sf_dir], env=env, cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    want = price_oracle(sf_dir)
    assert [(t, a) for t, a, _ in out] == [(want["/prices/today"], want["/prices/alltime"])] * 4
    assert [reused for *_, reused in out] == [False, True, False, True]
