"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.7 X27 / north-star "custom stateful operators").

The built-in stateful operators (window aggs, session_window,
dropDuplicatesWithinWatermark) cover the closure; this module is the
escape hatch for semantics none of them express. The example operator
is a per-user *spend tracker with alerting*: it keeps a running event
count + value sum per user across micro-batches and emits one row per
(user, batch) only when the cumulative value crosses multiples of a
threshold — cross-batch state, data-dependent emission, no built-in
equivalent.

State discipline at scale: state is keyed by user_id (the shuffle
key), holds two scalars per user, and expires via processing-time
timeout when a user goes quiet — bounded state, the thing that keeps
a 1000-executor streaming job alive.

API choice: transformWithStateInPandas (Spark 4's successor API) is
not used because its Python state server needs protobuf, which is not
a dependency of this package; applyInPandasWithState carries the same
per-key state semantics over the Arrow channel (see
events.ewma_per_user)."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [StructField("n_events", LongType()), StructField("total_value", DoubleType())]
)
OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("crossed_multiple", LongType()),
    ]
)


def track_spend(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    threshold: float = 100.0,
    expire_ms: int | None = None,
) -> Iterator[pd.DataFrame]:
    """Per-user cumulative tracker: emits whenever the running total
    crosses a new multiple of `threshold`."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    before = int(total // threshold)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    if expire_ms is not None:
        state.setTimeoutDuration(expire_ms)
    after = int(total // threshold)
    if after > before:
        yield pd.DataFrame(
            [(user_id, n, total, after)],
            columns=["user_id", "n_events", "total_value", "crossed_multiple"],
        )


def spend_alerts(
    events: DataFrame, threshold: float = 100.0, expire_ms: int | None = None
) -> DataFrame:
    """Wire the tracker over a stream grouped by user.

    ``expire_ms`` enables processing-time state expiry for quiet keys
    — the state-boundedness requirement of a long-running production
    stream. It is OPT-IN because a processing-time timeout makes
    Trigger.AvailableNow loop indefinitely (every drained batch
    schedules future timeout work); bounded replays (tests, the
    driver) run with NoTimeout."""

    def fn(key, pdfs, state):
        return track_spend(key, pdfs, state, threshold, expire_ms)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if expire_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )

