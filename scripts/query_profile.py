"""Per-query job/stage/task profile: runs a registered query's
prepared plan N times against the noop sink with the event log on,
then parses the log into per-job and per-stage timing with task
counts — the UI-less equivalent of guide §7.1.

Run: python scripts/query_profile.py <query> [reps]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> int:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with tempfile.TemporaryDirectory(prefix="mas_eventlog_") as evdir:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = evdir
        return profile(name, reps, sf_dir, evdir)


def profile(name: str, reps: int, sf_dir: str, evdir: str) -> int:
    from master_airflow_spark import registry
    from master_airflow_spark.session import get_spark

    spark = get_spark(
        app_name=f"mas-prof-{name}",
        extra_conf={
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    def materialize(df):
        df.write.format("noop").mode("overwrite").save()

    # warm: full pass incl. table counts like bench
    from master_airflow_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    df = registry.REGISTRY[name].fn(spark, sf_dir)
    materialize(df)
    registry.release_caches()
    if name not in getattr(__import__("bench"), "REBUILD", set()):
        plan = df
    else:
        plan = None

    spark.sparkContext.setJobDescription(f"PROFILE:{name}")
    walls = []
    t_mark = time.time() * 1000
    for _ in range(reps):
        t0 = time.perf_counter()
        d = plan if plan is not None else registry.REGISTRY[name].fn(spark, sf_dir)
        materialize(d)
        walls.append(time.perf_counter() - t0)
        registry.release_caches()
    print(f"{name}: walls={[round(w,3) for w in walls]} min={min(walls):.3f}")
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse event log (Spark 4 rolling layout: eventlog_v2_<app>/events_*)
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        d = os.path.join(evdir, f"eventlog_v2_{app_id}")
        parts = sorted(
            os.path.join(d, p) for p in os.listdir(d) if p.startswith("events_")
        )
    else:
        parts = [path]
    jobs = {}
    stages = {}
    for part in parts:
        with open(part) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description", "")
                    jobs[ev["Job ID"]] = {
                        "desc": desc,
                        "t0": ev["Submission Time"],
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    }
                elif e == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    stages[si["Stage ID"]] = {
                        "name": si["Stage Name"].split(" at ")[0][:40],
                        "tasks": si["Number of Tasks"],
                        "ms": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
                    }
    prof = [
        j
        for j in jobs.values()
        if j["desc"].startswith(f"PROFILE:{name}") and j.get("t1", 0) > t_mark
    ]
    per_rep = max(1, reps)
    print(f"jobs in profiled region: {len(prof)} ({len(prof)/per_rep:.1f}/rep)")
    tot_ms = 0
    gaps = 0.0
    last_end = None
    for j in sorted(prof, key=lambda j: j["t0"]):
        dur = j.get("t1", j["t0"]) - j["t0"]
        tot_ms += dur
        if last_end is not None:
            gaps += max(0, j["t0"] - last_end)
        last_end = j.get("t1")
        st = [
            (sid, stages[sid]["tasks"], stages[sid]["ms"], stages[sid]["name"])
            for sid in j["stages"]
            if sid in stages
        ]
        st_s = "; ".join(f"s{sid} {n}t {ms}ms {nm}" for sid, n, ms, nm in st)
        print(f"  job {dur:5d}ms  [{st_s}]")
    print(
        f"sum(job_ms)={tot_ms} over {per_rep} reps = {tot_ms/per_rep:.0f}ms/rep;"
        f" inter-job gap total={gaps:.0f}ms ({gaps/per_rep:.0f}ms/rep)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
