"""Scale harness: replicate the base tables K times with key-shifted
copies (distinct surrogate keys, so join and group cardinalities grow
linearly, not quadratically), then time each arm at each scale and
check its output against the DuckDB oracle on the same replica. The
point is the CURVE, not the absolute numbers: a plan whose runtime
grows faster than its rows is a plan that would not survive 100 TB,
and the same measurement at two scales separates a fixed per-stage
cost from a data-proportional one.

Run: python scripts/scale_probe.py [ARM ...] [--factors 1 2 5 10]
                                   [--unsalted] [--no-oracle]

The base is SPARK_GRAFT_SF_DIR (default sf0.1). An ARM is a registered
query name or a ``module:function`` taking (spark, sf_dir), resolved as
scripts/ab.py resolves its candidate; no ARM means PROBE_QUERIES.

Replicas (build_replica): nation and region stay fixed; every other
table gets K copies whose keys are shifted by one global shift. Copy
i > 0 is salted so that cross-copy pairs do not k²-explode by
construction: documents map their alphanumerics to a disjoint
code-point plane, customer names get a doubled copy code, and
embeddings get a seeded Gaussian perturbation. ``--unsalted`` keeps
byte-identical copies (the fixed-vocabulary control; never probe
pair-output queries such as minhash_* or dup_span_* with it). A
replica is reused only when its marker matches.

Measurement: per arm and scale, one warm-up and REPS reps, each plan
built by fn() and written to the noop sink under its own job group.
`credited` is events.credited_seconds (drains credited at their
trigger time; equal to wall when no drain ran). The session writes an
event log to a temp dir; after the last rep the session stops and
jobs, shuffle-write bytes, spill and job gaps per rep are read from it.
Every oracled arm also gets a median-of-3 DuckDB time and a
testing.compare check; an output with a `recall_at_k` column reports
its mean and min. All figures are medians over the reps.

Output: one markdown table on stdout (progress on stderr). Exit 1 if
any oracle check failed; the run goes on past a failure.

A/B arms run through scripts/ab.py with SPARK_GRAFT_SF_DIR set to a
replica dir (printed on stderr), e.g. the state-store provider:
  ab.py conf spark.sql.streaming.stateStore.providerClass \\
    org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider \\
    org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider \\
    3 stream_session_window_state
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time
from functools import reduce

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import ab  # noqa: E402
from master_airflow_spark import registry  # noqa: E402
from master_airflow_spark.catalog import TABLES, load_table, table_fingerprint, table_path  # noqa: E402
from master_airflow_spark.session import get_spark  # noqa: E402
from master_airflow_spark.streaming import events  # noqa: E402
from master_airflow_spark.testing import compare, duckdb_connection  # noqa: E402
from perfbench.eventlog import read_groups  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = "/tmp/mas_scale"
REPS = 3
SIGMA = 0.35  # relative size of the per-copy embedding perturbation
_ROT_ALPHABET = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
)

# per-table key columns that must be disjoint across copies
SHIFT_KEYS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# headline subset spanning the main physical shapes: fact-fact joins
# (q3/q7/q18/q21), single-scan aggs, window dedup, LSH and exact dedup
# over documents, text scoring, iterative graph kernels (per-iteration
# join+agg), inverted-index build, two-level aggs, SCD2 windows,
# span-level dedup, sketch-then-verify, LSH-then-verify near-dup and
# the rank-sketch quantiles
PROBE_QUERIES = (
    "q3_shipping_priority",
    "q7_volume_shipping",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "pricing_summary",
    "dedup_exact",
    "minhash_near_dup",
    "text_quality",
    "sessionize_events",
    "lsh_bucketed_ann",
    "bm25_lite_ranking",
    "pagerank_trade_graph",
    "last_touch_attribution",
    "inverted_index_postings",
    "source_token_divergence",
    "equi_depth_price_buckets",
    "boilerplate_shingle_ratio",
    "minhash_estimate_error",
    "quality_logit_score",
    "scd2_history_build",
    "dup_span_extract",
    "dup_span_cut",
    "triangle_count_cosuppliers",
    "bfs_reachability_hops",
    "heavy_hitters_mg_verified",
    "embedding_near_dup_lsh_verified",
    "exact_quantiles_sketched",
)


def _global_key_shift(spark, base: str) -> int:
    """ONE replica key shift for every table: next power of 10 above
    the max key across ALL shifted tables. It must be global — orders
    replica i references customer replica i through o_custkey, so a
    per-table shift (orders' max ≫ customer's max) would desynchronize
    the foreign keys and silently empty every replica join, flattening
    the very growth curve this script measures. Deriving it from the
    data (not a fixed constant) keeps replicas collision-free at any
    base SF."""
    hi = 0
    for t, keys in SHIFT_KEYS.items():
        df = load_table(spark, base, t)
        maxes = [F.max(c) for c in keys]
        v = df.select(F.greatest(*maxes) if len(maxes) > 1 else maxes[0]).first()[0]
        hi = max(hi, v or 0)
    shift = 10
    while shift <= hi:
        shift *= 10
    return shift


def _copy(df, t: str, keys: tuple[str, ...], i: int, shift: int, salted: bool):
    out = df.select(
        *[
            (F.col(c) + F.lit(i * shift)).alias(c) if c in keys else F.col(c)
            for c in df.columns
        ]
    )
    if t == "documents" and i > 0 and salted:
        # Per-copy disjoint-plane character map: a bijective translate
        # shifting the 62 alphanumerics by i*64 code points, so copy
        # i's alphabet occupies its own plane. Cross-copy tokens AND
        # character grams of every width are collision-free (a token
        # suffix salt still shared interior grams; an in-alphabet
        # rotation collided on the dense gram space), while each
        # copy's internal structure, lengths and punctuation stay
        # exactly the base's.
        shifted = "".join(chr(ord(c) + i * 64) for c in _ROT_ALPHABET)
        out = out.withColumn(
            "text", F.translate("text", _ROT_ALPHABET, shifted)
        )
    if t == "customer" and i > 0 and salted:
        # Same argument for name-keyed pair queries: the doubled
        # two-digit copy code keeps every cross-copy pair at
        # Levenshtein ≥ 2 while each copy's distance-≤1 structure
        # stays the base's.
        code = f"{i:02d}"
        out = out.withColumn("c_name", F.concat("c_name", F.lit(code + code)))
    return out


def _embeddings(base: str, k: int, shift: int, salted: bool) -> pa.Table:
    """The embeddings copies in vec_id order. Salted copy i > 0 adds to
    each base vector a Gaussian of norm SIGMA × its norm from one
    generator per copy (seed 1_000_003·i, drawn over the vec_id-ordered
    matrix), then rescales it to the base norm: no vector repeats, the
    cluster structure survives, and every build is identical."""
    tbl = pq.read_table(table_path(base, "embeddings")).sort_by("vec_id")
    df = tbl.to_pandas()
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in df["embedding"]])
    norms = np.linalg.norm(V, axis=1, keepdims=True)
    frames = []
    for i in range(k):
        copy = df.assign(vec_id=df["vec_id"] + i * shift)
        if salted and i:
            G = np.random.default_rng(1_000_003 * i).standard_normal(V.shape)
            P = V + SIGMA * norms * G / np.linalg.norm(G, axis=1, keepdims=True)
            P = P * (norms / np.linalg.norm(P, axis=1, keepdims=True))
            copy["embedding"] = [row.astype(np.float32) for row in P]
        frames.append(copy)
    out = pd.concat(frames, ignore_index=True)
    return pa.Table.from_pandas(out, schema=tbl.schema, preserve_index=False)


def build_replica(spark, base: str, root: str, k: int, salted: bool = True) -> str:
    """The x``k`` replica of the tables in ``base``, as a dir under
    ``root``. A dir is reused only when its marker names the base
    tables' fingerprints, ``k`` and the salting; the marker is written
    last, so a half-built dir is rebuilt."""
    dst = os.path.join(root, f"x{k}" if salted else f"x{k}_unsalted")
    marker = os.path.join(dst, "_REPLICA")
    key = repr(([table_fingerprint(table_path(base, t)) for t in TABLES], k, salted))
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == key:
                return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    shift = _global_key_shift(spark, base)
    for t in TABLES:
        if t == "embeddings":
            pq.write_table(_embeddings(base, k, shift, salted), table_path(dst, t))
            continue
        df = load_table(spark, base, t)
        keys = SHIFT_KEYS.get(t)
        out = df  # nation/region: fixed-cardinality dims
        if keys:
            copies = (_copy(df, t, keys, i, shift, salted) for i in range(k))
            out = reduce(DataFrame.unionByName, copies)
        out.write.mode("overwrite").parquet(table_path(dst, t))
    with open(marker, "w") as f:
        f.write(key)
    return dst


def _rep(spark, sf_dir: str, fn, group: str) -> tuple[float, float]:
    """(credited, wall) seconds of one ab.run of ``fn`` under ``group``."""
    sc = spark.sparkContext
    events.reset_drain_trigger_seconds()
    sc.setJobGroup(group, group)
    try:
        wall = ab.run(spark, sf_dir, fn)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return events.credited_seconds(wall), wall


def probe(spark, sf_dir: str, arm: str, fn, k: int, con) -> dict:
    """One arm at one scale: warm-up, timed reps, oracle check, recall."""
    ab.run(spark, sf_dir, fn)
    groups = [f"{arm}@x{k}#{r}" for r in range(REPS)]
    reps = [_rep(spark, sf_dir, fn, g) for g in groups]
    out = {"arm": arm, "k": k, "groups": groups,
           "credited": statistics.median(c for c, _ in reps),
           "wall": statistics.median(w for _, w in reps)}
    print(f"x{k} {arm}: credited {['%.3f' % c for c, _ in reps]}", file=sys.stderr, flush=True)
    df = fn(spark, sf_dir)
    if "recall_at_k" in df.columns:
        out["recall"] = df.agg(F.mean("recall_at_k"), F.min("recall_at_k")).first()
    oracle = registry.REGISTRY[arm].oracle if arm in registry.REGISTRY else None
    if oracle and con is not None:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(oracle).fetchall()
            times.append(time.perf_counter() - t0)
        out["oracle"] = statistics.median(times)
        res = compare(arm, df, con, oracle)
        out["ok"] = res.ok
        if not res.ok:
            print(f"x{k} {arm}: ORACLE CHECK FAILED {res.mismatches}", file=sys.stderr, flush=True)
    registry.release_caches()
    return out


def table(results: list[dict], groups: dict, lineitem_rows: dict, salted: bool) -> str:
    first = {}
    for r in results:
        first.setdefault(r["arm"], r["credited"])
    lines = [
        f"Base {BASE_SF}, {'salted' if salted else 'unsalted'} replicas; lineitem rows "
        + ", ".join(f"x{k}={n:,}" for k, n in lineitem_rows.items())
        + f". Medians of {REPS} reps after one warm-up; growth = credited / credited"
        " at the first scale.",
        "",
        "| arm | scale | credited s | wall s | growth | jobs | shuffle write B | spill B"
        " | job gap s | oracle s | check | recall mean / min |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        med = {key: statistics.median(groups.get(g, {}).get(key, 0) for g in r["groups"])
               for key in ("jobs", "shuffle_write_bytes", "spill_bytes", "job_gap_s")}
        check = {True: "ok", False: "FAIL"}.get(r.get("ok"), "-")
        rec = r.get("recall")
        lines.append(
            f"| {r['arm']} | x{r['k']} | {r['credited']:.3f} | {r['wall']:.3f}"
            f" | {r['credited'] / first[r['arm']]:.2f}× | {med['jobs']:g}"
            f" | {med['shuffle_write_bytes']:,.0f} | {med['spill_bytes']:,.0f}"
            f" | {med['job_gap_s']:.3f} | {'%.3f' % r['oracle'] if 'oracle' in r else '-'}"
            f" | {check} | {'%.3f / %.3f' % tuple(rec) if rec else '-'} |"
        )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("arms", nargs="*", metavar="ARM")
    p.add_argument("--factors", type=int, nargs="+", default=[1, 2, 5, 10])
    p.add_argument("--unsalted", action="store_true")
    p.add_argument("--no-oracle", action="store_true")
    args = p.parse_args(argv)
    fns = {arm: ab.resolve(arm) for arm in args.arms or PROBE_QUERIES}
    log_dir = tempfile.mkdtemp(prefix="mas_scale_eventlog_")
    spark = get_spark(app_name="mas-scale-probe", extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    results, lineitem_rows = [], {}
    try:
        try:
            for k in args.factors:
                sf_dir = build_replica(spark, BASE_SF, OUT_ROOT, k, not args.unsalted)
                print(f"x{k}: {sf_dir}", file=sys.stderr, flush=True)
                # counting every table also warms file listing and footers before the first arm
                counts = {t: load_table(spark, sf_dir, t).count() for t in TABLES}
                lineitem_rows[k] = counts["lineitem"]
                con = None if args.no_oracle else duckdb_connection(sf_dir)
                try:
                    results += [probe(spark, sf_dir, a, fn, k, con) for a, fn in fns.items()]
                finally:
                    if con is not None:
                        con.close()
        finally:
            spark.stop()  # flushes the event log
        groups = read_groups(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    print(table(results, groups, lineitem_rows, not args.unsalted))
    return 1 if any(r.get("ok") is False for r in results) else 0


if __name__ == "__main__":
    raise SystemExit(main())
