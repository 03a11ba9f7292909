"""Session-scoped ownership for operator-internal persist() calls.

Several operators persist an intermediate whose consumers are LAZY — the
returned DataFrame still reads the cache when the CALLER finally runs an
action — so a try/finally inside the operator cannot unpersist without
destroying the reuse the persist exists for (the kmeans/pq fits, whose
actions are internal, do use try/finally; see similarity.py).

Instead, every such persist registers here, and whoever owns the action
releases the caches afterwards via :func:`release_operator_caches`.
Contexts already bounded without it: bench.py clears the cache between
samples, the driver's correctness runs use short-lived sessions, and
tests run clearCache-scoped assertions. The API exists for the remaining
context — a long-lived session running many queries (ADVICE r11 /
VERDICT r12 item 6: unbounded session-lifetime caches) — and is O(1) per
persist: a list of references, no weak magic, deterministic release
order (LIFO), scoped to one session."""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

_OWNED: list[DataFrame] = []
_LOCK = threading.Lock()  # sessions on other threads persist and release concurrently


def owned_persist(df: DataFrame) -> DataFrame:
    """persist() + register for a later release_operator_caches()."""
    df = df.persist()
    with _LOCK:
        _OWNED.append(df)
    return df


def release_operator_caches(spark: SparkSession | None = None) -> int:
    """Unpersist the operator-registered caches of ``spark`` — the
    thread's active session when None — LIFO; returns the number
    released. Other sessions' caches stay. Safe to call repeatedly and
    with actions still unrun — Spark recomputes an unpersisted frame from
    lineage."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return 0
    mine, others = [], []
    with _LOCK:
        for df in _OWNED:
            same = df.sparkSession._jsparkSession.equals(spark._jsparkSession)
            (mine if same else others).append(df)
        _OWNED[:] = others
    for df in reversed(mine):
        df.unpersist()
    return len(mine)
