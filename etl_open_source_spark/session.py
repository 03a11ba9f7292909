"""SparkSession factory.

Configured the way a large-cluster job would be, even though the harness runs
``local[32]``: AQE on (runtime re-planning, partition coalescing, skew-join
splitting), an explicit broadcast threshold so dimension joins
(region/nation/...) never shuffle the fact side, and UTC session time zone so
timestamp semantics match the parquet fixtures and the DuckDB oracle.

Replaces the reference's connection plumbing
(core/extractors/sqlserver.py:28-41) — there the "session" was a single ODBC
socket; here it is a distributed SparkSession.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Entries in Spark's LRU cache of compiled generated classes (whole-stage
# codegen, projections). Spark's default is 100, but one check pass plus one
# timed pass of the benchmark needs 152 distinct classes on llm_curation and
# 157 on analytics, so classes were evicted before their next use and each
# timed pass recompiled 40-90 of them with Janino. 1000 is about 6x the
# larger working set. A static SQL conf: it applies only when get_spark
# creates the JVM's first session.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "etl-open-source-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` is a *ceiling*: AQE coalesces small shuffles down
    at runtime, so 32 on local fixtures and e.g. 2000 on a real cluster both
    work with the same code path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive query execution: runtime shuffle coalescing, dynamic
        # broadcast conversion, skew-join splitting. Essential at 100 TB,
        # harmless at sf0.001.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(DEFAULT_SHUFFLE_PARTITIONS if shuffle_partitions is None else shuffle_partitions),
        )
        # Dims up to 64 MiB broadcast instead of shuffling the fact table.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Naive parquet timestamps == naive UTC; matches the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Never infer TIMESTAMP_NTZ from parquet: every naive timestamp
        # column reads as TIMESTAMP(_LTZ) in every session, so casts and
        # window frames behave identically in driver, test, and user
        # sessions (NTZ rejects cast-to-long under Spark 4.1).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Arrow for toPandas()/pandas_udf — the only sanctioned Python hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Spark 4.1's checksum checkpoint manager deadlocks committing
        # HDFSBackedStateStore state for applyInPandasWithState on local
        # filesystems; plain checkpoint files are fine for our use.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # managed tables (bucketed layouts) live outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/etl_open_source_spark_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
