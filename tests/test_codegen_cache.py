"""The codegen class cache holds the engine's working set.

Spark caches compiled generated classes (whole-stage codegen, projections)
in an LRU cache whose default size, 100, is smaller than the classes one
round of the benchmark queries needs. With the default every class is
evicted before it is used again, and every round recompiles all of them
with Janino. ``get_spark`` sizes the cache so that a repeated round
compiles nothing.
"""

from __future__ import annotations

from etl_open_source_spark.operators.caching import release_operator_caches
from etl_open_source_spark.registry import get_registry


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_round_compiles_nothing(spark, sf_dir):
    """The 15 bench queries (both benchmark workloads), three rounds back
    to back, each query isolated the way the benchmark isolates it (no
    cache survives into the next query) and forced with a noop write. The
    third round must find every class it needs in the cache."""
    registry = get_registry()
    names = sorted(n for n, q in registry.items() if q.bench)
    counts = []
    for _ in range(3):
        before = _compiles(spark)
        for name in names:
            spark.catalog.clearCache()
            release_operator_caches()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(_compiles(spark) - before)
    spark.catalog.clearCache()
    release_operator_caches()
    assert counts[2] == 0, f"compiles per round: {counts}"
