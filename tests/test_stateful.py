"""Custom stateful operator tests: cross-batch state accumulation and
data-dependent emission (applyInPandasWithState)."""

from __future__ import annotations

import os
import time

import pandas as pd

from master_airflow_spark.streaming.events import read_events_stream, run_to_memory
from master_airflow_spark.streaming.stateful import spend_alerts


def _stage(tmp_path, batches):
    d = str(tmp_path / "landing")
    os.makedirs(d, exist_ok=True)
    t0 = time.time() - 1000
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]")
        p = os.path.join(d, f"b{i}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (t0 + i * 10, t0 + i * 10))
    return d


def test_spend_tracker_accumulates_across_batches(spark, tmp_path):
    d = _stage(
        tmp_path,
        [
            # batch 0: user 1 at 60.0 — below threshold, no emission
            [(1, "2024-01-01 10:00:00", 1, "buy", 60.0, "{}")],
            # batch 1: user 1 reaches 120 (crosses 100 → emit);
            #          user 2 jumps straight past 200 → emit multiple 2
            [
                (2, "2024-01-01 10:05:00", 1, "buy", 60.0, "{}"),
                (3, "2024-01-01 10:06:00", 2, "buy", 250.0, "{}"),
            ],
            # batch 2: user 1 adds 30 (total 150, same multiple → no emit)
            [(4, "2024-01-01 10:10:00", 1, "buy", 30.0, "{}")],
        ],
    )
    out = run_to_memory(
        spend_alerts(read_events_stream(spark, d, max_files=1)), "append"
    )
    rows = {(r.user_id, r.n_events, r.total_value, r.crossed_multiple)
            for r in out.collect()}
    assert rows == {
        (1, 2, 120.0, 1),   # crossed 100 in batch 1, after accumulating batch 0
        (2, 1, 250.0, 2),   # single event crossing two multiples
    }

