"""Serving-layer parity: the reference's response shape, engine-backed,
and the stored-rows reuse behind it (built through the module
attributes, invalidated by a new session, tagged by endpoint, with no
JVM call on a hit and no effect on the caller's session)."""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import textwrap
import urllib.request

import pytest
from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection

from master_airflow_spark import serve
from master_airflow_spark.http_api import PriceServer
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


# py4j's release of a JVM object ("m\nd\n<id>") is sent by whichever
# thread drops the object's last Python reference, whenever that is;
# it is not a call the code under test makes, so it is not counted.
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


@contextlib.contextmanager
def _jvm_calls():
    """Every py4j command but a release, sent from any thread inside
    the block."""
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith(_RELEASE):
            calls.append(command)
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = send


def test_hit_makes_no_jvm_call(spark, lineitem_dir, price_oracle):
    """A steady-state hit is a fingerprint walk and a dict lookup: no
    py4j command, called directly or through a PriceServer request
    thread. A miss still talks to the JVM."""
    want = price_oracle(lineitem_dir)
    for path, get in (("/prices/today", get_prices_today), ("/prices/alltime", get_prices_alltime)):
        with _jvm_calls() as calls:
            assert get(spark, lineitem_dir) == want[path]
        assert serve.plan_reused() is False and calls
        with _jvm_calls() as calls:
            assert get(spark, lineitem_dir) == want[path]
        assert (serve.plan_reused(), calls) == (True, [])
    with PriceServer(spark, lineitem_dir) as srv:
        for path in want:
            with _jvm_calls() as calls:
                with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}", timeout=60) as r:
                    assert json.loads(r.read()) == want[path]
            assert calls == []
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/metrics", timeout=60) as r:
            metrics = json.loads(r.read())
    assert [metrics[p]["plan_hits"] for p in want] == [1, 1]


TZ, BINARY = "spark.sql.session.timeZone", "spark.sql.parquet.binaryAsString"


def test_serving_leaves_caller_session_alone(spark, lineitem_dir, price_oracle):
    """Serving runs on a session of its own: it sets no conf on the
    caller's session, and a runtime conf change on the caller neither
    turns a hit into a miss nor changes the payload."""
    want = price_oracle(lineitem_dir)["/prices/today"]
    prev = {k: spark.conf.get(k) for k in (TZ, BINARY)}
    try:
        spark.conf.set(TZ, "America/New_York")
        assert get_prices_today(spark, lineitem_dir) == want
        assert serve.plan_reused() is False
        assert spark.conf.get(TZ) == "America/New_York"
        spark.conf.set(BINARY, "false" if prev[BINARY] == "true" else "true")
        assert get_prices_today(spark, lineitem_dir) == want
        assert serve.plan_reused() is True
        assert spark.conf.get(TZ) == "America/New_York"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


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


HELD = textwrap.dedent("""
    import json, sys
    from pyspark.sql import SparkSession
    from master_airflow_spark import serve
    from master_airflow_spark.session import get_spark

    def sessions(obj):
        if isinstance(obj, SparkSession):
            yield obj
        elif isinstance(obj, dict):
            for kv in obj.items():
                yield from sessions(kv)
        elif isinstance(obj, (list, tuple)):
            for x in obj:
                yield from sessions(x)

    out = []
    for _ in range(3):
        spark = get_spark(app_name="serve-held")
        spark.sparkContext.setLogLevel("ERROR")
        serve.get_prices_today(spark, sys.argv[1])
        serve.get_prices_alltime(spark, sys.argv[1])
        held = [h for v in vars(serve).values() for h in sessions(v)]
        out.append([len(serve._PREPARED), len(held),
                    all(h._sc is spark.sparkContext for h in held)])
        spark.stop()
    print(json.dumps(out))
""")


def test_restart_holds_one_caller_state(sf_dir):
    """After each restart has served, the module holds one stored entry
    per slot and only sessions on the live context: nothing of a
    stopped session, and no more sessions than after the first start,
    so a new caller replaces the serving state instead of adding to it."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m",
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", HELD, sf_dir], env=env, cwd=ROOT,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    # per start: stored entries, sessions held, all on the live context
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == [[2, out[0][1], True]] * 3 and out[0][1] > 0
