"""Per-job-group records from a Spark event log.

The package's session writes an event log when SPARK_GRAFT_EVENTLOG_DIR
is set; the benchmark asks for one uncompressed file per application
(common.spark_conf). It tags each traced operation's jobs with
``setJobGroup(<op id>)``, stops the session so the log is flushed, and
reads back per group: job count, summed executor CPU time, shuffle
bytes written, bytes spilled, and the driver-side gaps between
consecutive jobs of the group.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict


def read_groups(log_dir: str) -> dict[str, dict]:
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                 "intervals": []}
    )
    stage_group: dict[tuple, str] = {}
    job_group: dict[tuple, str] = {}
    job_start: dict[tuple, float] = {}
    for name in sorted(os.listdir(log_dir)):  # one plain file per application
        with open(os.path.join(log_dir, name), errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    key = (name, ev["Job ID"])
                    job_group[key] = gid
                    job_start[key] = ev.get("Submission Time", 0) / 1000.0
                    groups[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(name, sid)] = gid
                elif kind == "SparkListenerJobEnd":
                    key = (name, ev["Job ID"])
                    if key in job_group:
                        groups[job_group[key]]["intervals"].append(
                            (job_start[key], ev.get("Completion Time", 0) / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get((name, ev.get("Stage ID")))
                    tm = ev.get("Task Metrics")
                    if gid is None or not tm:
                        continue
                    g = groups[gid]
                    g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    out = {}
    for gid, g in groups.items():
        gap, last_end = 0.0, None
        for a, b in sorted(g.pop("intervals")):
            if last_end is not None and a > last_end:
                gap += a - last_end
            last_end = b if last_end is None else max(last_end, b)
        g["job_gap_s"] = gap
        out[gid] = g
    return out


def per_op(groups: dict[str, dict], ops: list[str]) -> dict[str, float]:
    """Mean per operation over the named groups (an op with no jobs
    counts as zero)."""
    n = max(1, len(ops))
    keys = ("jobs", "cpu_s", "shuffle_write_bytes", "spill_bytes", "job_gap_s")
    return {k: sum(groups.get(op, {}).get(k, 0) for op in ops) / n for k in keys}
