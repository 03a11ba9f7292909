"""Streaming transformations — the one definition of each. The batch
twins in queries/stream_windows.py (and q_mv_incremental) call these same
functions on a batch frame, where Catalyst drops the watermark, so the
DuckDB oracle checks the expressions the stream runs. Streaming dedup is
the exception: dropDuplicatesWithinWatermark refuses batch frames.

Design for scale: every stateful op here carries a watermark so state is
bounded (without one, a windowed agg or dedup accumulates state forever —
the classic streaming OOM). File-source tests drive these end-to-end in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.functions.numeric import dec, dsum
from etl_open_source_spark.sources.writers import write_files, write_jdbc

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def file_event_stream(spark: SparkSession, path: str, schema: str = EVENTS_SCHEMA) -> DataFrame:
    """JSON-lines file source — each new file becomes (part of) a
    micro-batch; the unit-testable stand-in for Kafka/Kinesis."""
    return spark.readStream.schema(schema).json(path)


def tumbling_agg(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1 h windows with a watermark: late events beyond the
    watermark are dropped; closed windows' state is evicted. Epoch-aligned,
    so windows agree with DuckDB's time_bucket (q_window_tumbling)."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def session_agg(df: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Session windows (gap-based) per user — merging-window state, bounded
    by the watermark. A session ends at its last event + ``gap``."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(df: DataFrame, keys: list[str], watermark: str = "10 minutes") -> DataFrame:
    """Exact dedup on ``keys`` with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for older keys is
    evicted (duplicates later than the watermark would pass — the standard
    bounded-state trade).

    dropDuplicatesWithinWatermark, NOT dropDuplicates: plain
    dropDuplicates only evicts state when the event-time column is itself
    part of the key list — with business keys like event_id the watermark
    is inert and state grows forever (the exact unbounded-state OOM this
    module exists to prevent)."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence probe through the Hadoop FileSystem API —
    works for file:/, hdfs:/, s3a:/ alike, and (unlike a read attempt)
    cannot confuse a transient failure with absence."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def foreach_batch_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    dedup_order: str | None = None,
):
    """Streaming MERGE sink: every micro-batch upserts into a parquet
    snapshot via foreachBatch + merge_upsert (operators/merge.py) —
    newest rows win on the key, unmatched target rows survive. Restart
    safety comes from the checkpoint + the merge itself being idempotent
    (replaying a batch re-asserts the same final rows). With Delta or
    Iceberg the body becomes a native MERGE INTO and the snapshot
    rewrite disappears; the plan shape is the same.

    ``dedup_order``: column whose max picks the winner when one batch
    carries several rows per key; omit it if upstream already guarantees
    one row per key per batch.

    Returns the StreamingQuery (caller awaits/stops it)."""
    from etl_open_source_spark.operators.merge import merge_upsert

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # Existence-checked, NOT try/except: a transient read failure must
        # crash the batch (checkpoint retries it), never be mistaken for
        # "first batch" — that mistake silently resets the whole snapshot.
        target = (
            spark.read.parquet(target_path) if _hadoop_path_exists(spark, target_path) else None
        )
        if target is None:
            # first batch still needs the within-batch dedup / uniqueness
            # contract merge_upsert would otherwise enforce
            merged = merge_upsert(batch.limit(0), batch, keys, dedup_order=dedup_order)
        else:
            # dedup_order passes straight through — merge_upsert owns the
            # newest-wins window (or the eager uniqueness check when the
            # caller promises one row per key)
            merged = merge_upsert(target, batch, keys, dedup_order=dedup_order)
        # materialize before overwriting the path being read
        write_files(merged.localCheckpoint(eager=True), target_path, "parquet", "replace")

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval:
    rows match when they share ``on`` and the right event lands in
    [left_ts - within, left_ts]. Both sides carry watermarks so the
    engine can BOUND THE JOIN STATE — without the time condition a
    stream-stream join must buffer both streams forever; with it, rows
    older than (watermark + within) are evicted. The canonical
    click-attribution / conversion-matching shape."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    # qualified refs: both sides may carry identically-named columns
    cond = (
        (l[on] == r[on])
        & (r[right_ts] <= l[left_ts])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").drop(r[on])


def foreach_batch_jdbc_sink(
    stream: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    **jdbc_opts: str,
):
    """Streaming → DBMS sink: every micro-batch lands in the JDBC target
    as one executor-parallel batched append (the streaming flavor of the
    reference's SQL Server load, core/loaders/sqlserver.py:244-288 —
    minus the row-at-a-time loop). Live-tested against embedded Derby.

    Each row carries the micro-batch epoch in ``__epoch`` so a replayed
    batch (restart between sink write and checkpoint commit) is
    detectable target-side: dedupe on (key, __epoch) or MERGE from a
    staging table for exactly-once; plain append is at-least-once.

    Returns the StreamingQuery (caller awaits/stops it)."""

    def sink(batch: DataFrame, epoch_id: int) -> None:
        write_jdbc(
            batch.withColumn("__epoch", F.lit(epoch_id)),
            url=url,
            table=table,
            mode="append",
            **jdbc_opts,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def rollup_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-key partial-aggregate state of an incremental rollup: (keys,
    n = row count, sum_dec = exact DECIMAL(18,4) sum of ``value_col``).
    Both columns re-aggregate (counts add, decimal sums add), so two
    states merge with :func:`merge_rollup_states`; averages and the like
    derive from the merged state at read time."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(value_col)).alias("sum_dec"),
    )


def merge_rollup_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two :func:`rollup_state` frames into one state."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"), F.sum("sum_dec").alias("sum_dec"))
    )


def foreach_batch_incremental_mv(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    value_col: str,
    checkpoint: str,
):
    """Streaming incremental materialized view — the streaming twin of
    q_mv_incremental (queries/maintenance_q.py), on the same state
    helpers: every micro-batch reduces to a :func:`rollup_state` and
    folds into a standing parquet rollup by :func:`merge_rollup_states`,
    so the view absorbs each batch by touching only batch-sized state —
    history is never re-scanned.

    Unlike the upsert sink above, the additive merge is NOT
    idempotent under batch replay — with plain parquet the guarantee is
    the checkpoint's at-least-once, so a crash exactly between the
    snapshot write and the epoch commit can double-fold one batch; a
    transactional table format (Delta/Iceberg) closes that window by
    committing data + epoch atomically. The plan shape is identical
    either way.

    Returns the StreamingQuery (caller awaits/stops it)."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        partial = rollup_state(batch, keys, value_col)
        # Existence-checked, NOT try/except: treating ANY read error as
        # "first batch" would replace the accumulated view with one
        # batch's state and keep streaming green — total silent data
        # loss, far worse than the documented double-fold window.
        standing = (
            spark.read.parquet(target_path) if _hadoop_path_exists(spark, target_path) else None
        )
        if standing is not None:
            partial = merge_rollup_states(standing, partial, keys)
        # materialize before overwriting the path being read
        write_files(partial.localCheckpoint(eager=True), target_path, "parquet", "replace")

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )
