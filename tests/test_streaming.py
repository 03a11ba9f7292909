"""True Structured Streaming engine tests: file source → watermarked
windowed aggs / dedup → memory sink, driven deterministically with
processAllAvailable between file drops.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

import pytest

from etl_open_source_spark.streaming.windows import (
    file_event_stream,
    session_agg,
    streaming_dedup,
    tumbling_agg,
)


def _write_events(path: str, rows: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(i, ts, user=1, etype="view", value=1.0):
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": etype,
        "value": value,
        "props": "{}",
    }


@pytest.fixture()
def stream_env(spark):
    root = tempfile.mkdtemp(prefix="stream_test_")
    src = os.path.join(root, "in")
    os.makedirs(src)
    ckpts = []

    def start(df, output_mode, table):
        ckpt = os.path.join(root, f"ckpt_{uuid.uuid4().hex}")
        ckpts.append(ckpt)
        return (
            df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )

    yield src, start, spark
    for q in spark.streams.active:
        q.stop()
    shutil.rmtree(root, ignore_errors=True)


def test_streaming_tumbling_matches_batch(spark, stream_env, tmp_path):
    """The stream and its batch twin run one expression: events streamed
    through tumbling_agg give the rows q_window_tumbling computes over the
    same file read as a batch, decimal-exact sums included (a double sum
    reads 0.1 + 0.2 as 0.30000000000000004)."""
    from etl_open_source_spark.queries.stream_windows import q_window_tumbling
    from etl_open_source_spark.streaming.windows import EVENTS_SCHEMA

    src, start, _ = stream_env
    rows = [
        _ev(1, "2024-01-01 00:05:00", etype="view", value=0.1),
        _ev(2, "2024-01-01 00:45:00", etype="view", value=0.2),
        _ev(3, "2024-01-01 01:05:00", etype="click", value=0.2),
    ]
    _write_events(src, rows, "a.json")
    q = start(tumbling_agg(file_event_stream(spark, src)), "append", "tumbling_out")
    q.processAllAvailable()
    # the batch twin's events table: the same file, read as a batch
    spark.read.schema(EVENTS_SCHEMA).json(src).write.parquet(str(tmp_path / "events.parquet"))
    # append mode emits only watermark-closed windows; advance event time far
    _write_events(src, [_ev(4, "2024-01-01 05:00:00")], "b.json")
    q.processAllAvailable()
    q.stop()
    streamed = spark.sql("SELECT * FROM tumbling_out").orderBy("window_start", "event_type")
    batch = q_window_tumbling(spark, str(tmp_path)).collect()
    assert streamed.collect() == batch
    assert [(r.event_type, r.cnt, r.sum_value) for r in batch] == [
        ("view", 2, 0.3), ("click", 1, 0.2)
    ]


def test_streaming_late_data_dropped(spark, stream_env):
    """An event older than the watermark horizon must not resurrect or
    alter an already-closed window."""
    src, start, _ = stream_env
    _write_events(src, [_ev(1, "2024-01-01 00:05:00")], "a.json")
    q = start(tumbling_agg(file_event_stream(spark, src), watermark="10 minutes"), "append", "late_out")
    q.processAllAvailable()
    # advance watermark far beyond hour 0, closing its window
    _write_events(src, [_ev(2, "2024-01-01 03:00:00")], "b.json")
    q.processAllAvailable()
    # now a VERY late event for hour 0 arrives — beyond watermark → dropped
    _write_events(src, [_ev(3, "2024-01-01 00:06:00")], "c.json")
    q.processAllAvailable()
    _write_events(src, [_ev(4, "2024-01-01 06:00:00")], "d.json")
    q.processAllAvailable()
    q.stop()
    hour0 = [
        r
        for r in spark.sql("SELECT * FROM late_out").collect()
        if str(r.window_start) == "2024-01-01 00:00:00"
    ]
    assert len(hour0) == 1 and hour0[0].cnt == 1  # late event 3 did NOT count


def test_streaming_dedup_bounded_state(spark, stream_env):
    src, start, _ = stream_env
    _write_events(
        src,
        [_ev(1, "2024-01-01 00:00:00"), _ev(1, "2024-01-01 00:01:00"), _ev(2, "2024-01-01 00:02:00")],
        "a.json",
    )
    q = start(
        streaming_dedup(file_event_stream(spark, src), ["event_id"]), "append", "dedup_out"
    )
    q.processAllAvailable()
    # same key again within the same batch window → still deduped
    _write_events(src, [_ev(2, "2024-01-01 00:03:00"), _ev(3, "2024-01-01 00:04:00")], "b.json")
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert ids == [1, 2, 3]


def test_streaming_session_window_append_mode(spark, stream_env):
    """Session windows only support append output: sessions emit once the
    watermark passes their close."""
    src, start, _ = stream_env
    _write_events(
        src,
        [
            _ev(1, "2024-01-01 00:00:00", user=7),
            _ev(2, "2024-01-01 00:10:00", user=7),  # same session (gap < 30m)
            _ev(3, "2024-01-01 02:00:00", user=7),  # new session
        ],
        "a.json",
    )
    q = start(session_agg(file_event_stream(spark, src)), "append", "session_out")
    q.processAllAvailable()
    # advance event time so the watermark closes both sessions
    _write_events(src, [_ev(4, "2024-01-01 09:00:00", user=8)], "b.json")
    q.processAllAvailable()
    q.stop()
    finals = {
        str(r.session_start): r
        for r in spark.sql("SELECT * FROM session_out WHERE user_id = 7").collect()
    }
    assert finals["2024-01-01 00:00:00"].n_events == 2
    assert str(finals["2024-01-01 00:00:00"].session_end) == "2024-01-01 00:40:00"
    assert finals["2024-01-01 02:00:00"].n_events == 1


def test_stateful_running_user_totals(spark, stream_env):
    """applyInPandasWithState: per-user running totals accumulate across
    micro-batches."""
    from etl_open_source_spark.streaming.stateful import running_user_totals

    src, start, _ = stream_env
    _write_events(src, [_ev(1, "2024-01-01 00:00:00", user=1, value=10.0),
                        _ev(2, "2024-01-01 00:01:00", user=1, value=5.0),
                        _ev(3, "2024-01-01 00:02:00", user=2, value=1.0)], "a.json")
    q = start(running_user_totals(file_event_stream(spark, src)), "update", "totals_out")
    q.processAllAvailable()
    _write_events(src, [_ev(4, "2024-01-01 00:03:00", user=1, value=2.0)], "b.json")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM totals_out").collect()
    finals = {}
    for r in rows:  # update mode: last emission per user wins
        finals[r.user_id] = (r.cnt, r.total)
    assert finals[1] == (3, 17.0)
    assert finals[2] == (1, 1.0)


def test_foreach_batch_upsert_sink(spark, stream_env):
    """Streaming upsert: batch 2 overwrites batch 1's row for the same
    key, inserts a new key, and untouched keys survive the merge."""
    import os
    import tempfile

    from etl_open_source_spark.streaming.windows import (
        file_event_stream,
        foreach_batch_upsert_sink,
    )

    src, _, spark = stream_env
    root = tempfile.mkdtemp(prefix="upsert_sink_")
    target = os.path.join(root, "snapshot")
    ckpt = os.path.join(root, "ckpt")
    stream = file_event_stream(spark, src).select("event_id", "ts", "value")
    q = foreach_batch_upsert_sink(
        stream, target, keys=["event_id"], checkpoint=ckpt, dedup_order="ts"
    )
    _write_events(
        src,
        [_ev(1, "2024-01-01 00:00:00", value=10.0), _ev(2, "2024-01-01 00:01:00", value=20.0)],
        "a.json",
    )
    q.processAllAvailable()
    _write_events(
        src,
        [
            _ev(1, "2024-01-01 01:00:00", value=11.0),  # update key 1
            _ev(3, "2024-01-01 01:01:00", value=30.0),  # insert key 3
        ],
        "b.json",
    )
    q.processAllAvailable()
    q.stop()
    got = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    assert got == {1: 11.0, 2: 20.0, 3: 30.0}


def test_stream_stream_interval_join(spark, stream_env):
    """Two live streams joined on key within a 30-minute event-time bound:
    a purchase matches the user's views at most 30min before it; older
    views and other users don't match."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_open_source_spark.streaming.windows import (
        file_event_stream,
        stream_stream_interval_join,
    )

    src, start, spark = stream_env
    src2 = tempfile.mkdtemp(prefix="stream_right_")
    try:
        purchases = file_event_stream(spark, src).select(
            F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
        )
        views = file_event_stream(spark, src2).select(
            F.col("event_id").alias("v_id"), "user_id", F.col("ts").alias("v_ts")
        )
        joined = stream_stream_interval_join(
            purchases, views, on="user_id", left_ts="p_ts", right_ts="v_ts",
            within="30 minutes",
        )
        q = start(joined, "append", "attributed")
        _write_events(src2, [
            _ev(101, "2024-01-01 10:00:00", user=1),   # view 30min before (inclusive)
            _ev(102, "2024-01-01 09:00:00", user=1),   # too old
            _ev(103, "2024-01-01 10:20:00", user=2),   # other user
        ], "views.json")
        _write_events(src, [_ev(1, "2024-01-01 10:30:00", user=1)], "purch.json")
        q.processAllAvailable()
        # advance both watermarks so results flush in append mode
        _write_events(src2, [_ev(109, "2024-01-01 20:00:00", user=9)], "v2.json")
        _write_events(src, [_ev(9, "2024-01-01 20:00:00", user=9)], "p2.json")
        q.processAllAvailable()
        q.stop()
        got = {(r.p_id, r.v_id) for r in spark.sql("SELECT * FROM attributed").collect()}
        assert (1, 101) in got
        assert all(v != 102 and v != 103 for _, v in got)
    finally:
        shutil.rmtree(src2, ignore_errors=True)


def test_streaming_jdbc_sink_live(spark, stream_env, tmp_path):
    """Streaming micro-batches land in a LIVE JDBC target (embedded
    Derby): two file drops → two epochs appended; row-count and epoch
    tagging verified by reading the DBMS back."""
    src, _, _ = stream_env
    from etl_open_source_spark.sources.readers import read_jdbc
    from etl_open_source_spark.streaming.windows import (
        file_event_stream,
        foreach_batch_jdbc_sink,
    )

    url = f"jdbc:derby:{tmp_path}/stream_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    stream = file_event_stream(spark, src).select("event_id", "user_id", "value")
    q = foreach_batch_jdbc_sink(
        stream,
        url=url,
        table="stream_events",
        checkpoint=str(tmp_path / "ckpt_jdbc"),
        driver=driver,
    )
    try:
        _write_events(src, [_ev(1, "2024-01-01 00:00:05"), _ev(2, "2024-01-01 00:01:00")], "b1.json")
        q.processAllAvailable()
        _write_events(src, [_ev(3, "2024-01-01 00:02:00")], "b2.json")
        q.processAllAvailable()
    finally:
        q.stop()
    back = read_jdbc(spark, url=url, table="stream_events", driver=driver).toPandas()
    assert len(back) == 3
    assert set(back["event_id".upper()] if "EVENT_ID" in back.columns else back["event_id"]) == {1, 2, 3}
    epoch_col = "__epoch" if "__epoch" in back.columns else "__EPOCH"
    assert back[epoch_col].nunique() >= 1  # epochs recorded for replay dedupe


def test_foreach_batch_incremental_mv(spark, stream_env):
    """Streaming incremental MV: after two micro-batches the standing
    per-type rollup equals a batch recompute over ALL events — counts and
    decimal sums fold associatively across batches (the streaming twin of
    q_mv_incremental's merge == recompute property)."""
    import os
    import tempfile
    from decimal import Decimal

    from etl_open_source_spark.streaming.windows import (
        file_event_stream,
        foreach_batch_incremental_mv,
    )

    src, _, spark = stream_env
    root = tempfile.mkdtemp(prefix="inc_mv_")
    target = os.path.join(root, "mv")
    ckpt = os.path.join(root, "ckpt")
    stream = file_event_stream(spark, src).select("event_type", "value")
    q = foreach_batch_incremental_mv(
        stream, target, keys=["event_type"], value_col="value", checkpoint=ckpt
    )
    batch_a = [
        _ev(1, "2024-01-01 00:00:00", etype="view", value=1.5),
        _ev(2, "2024-01-01 00:01:00", etype="click", value=2.25),
        _ev(3, "2024-01-01 00:02:00", etype="view", value=3.0),
    ]
    batch_b = [
        _ev(4, "2024-01-01 01:00:00", etype="view", value=10.0),
        _ev(5, "2024-01-01 01:01:00", etype="buy", value=7.75),
    ]
    _write_events(src, batch_a, "a.json")
    q.processAllAvailable()
    _write_events(src, batch_b, "b.json")
    q.processAllAvailable()
    q.stop()
    got = {
        r.event_type: (r.n, r.sum_dec)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        "view": (3, Decimal("14.5000")),
        "click": (1, Decimal("2.2500")),
        "buy": (1, Decimal("7.7500")),
    }


def test_foreach_batch_incremental_mv_restart_from_checkpoint(spark, stream_env):
    """Stop the stream after batch A, start a NEW query on the SAME
    checkpoint, land batch B: the standing view must fold both batches
    exactly once — the checkpoint replays nothing and drops nothing
    across the restart (the continuity contract every production
    streaming job leans on)."""
    import os
    import tempfile
    from decimal import Decimal

    from etl_open_source_spark.streaming.windows import (
        file_event_stream,
        foreach_batch_incremental_mv,
    )

    src, _, spark = stream_env
    root = tempfile.mkdtemp(prefix="inc_mv_restart_")
    target = os.path.join(root, "mv")
    ckpt = os.path.join(root, "ckpt")

    def start():
        stream = file_event_stream(spark, src).select("event_type", "value")
        return foreach_batch_incremental_mv(
            stream, target, keys=["event_type"], value_col="value", checkpoint=ckpt
        )

    q1 = start()
    _write_events(src, [_ev(1, "2024-01-01 00:00:00", etype="view", value=2.5)], "a.json")
    q1.processAllAvailable()
    q1.stop()

    q2 = start()  # fresh query object, same checkpoint
    _write_events(src, [_ev(2, "2024-01-01 01:00:00", etype="view", value=4.0),
                        _ev(3, "2024-01-01 01:01:00", etype="buy", value=1.25)], "b.json")
    q2.processAllAvailable()
    q2.stop()

    got = {r.event_type: (r.n, r.sum_dec) for r in spark.read.parquet(target).collect()}
    assert got == {
        "view": (2, Decimal("6.5000")),  # batch A survived the restart, B folded once
        "buy": (1, Decimal("1.2500")),
    }


def test_streaming_binary_ingest_through_multimodal_stage(spark, tmp_path):
    """Raw-media streaming ingest end to end: readStream over a
    binaryFile directory feeds the Arrow-batched metadata stage
    (operators/multimodal.py) and lands per-file rows in a memory sink —
    the continuous version of q_scan_binary_files + q_multimodal_meta."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, LongType, StringType, StructField, StructType,
    )

    from etl_open_source_spark.operators.multimodal import (
        extract_binary_metadata,
    )

    d = tmp_path / "stream_media"
    d.mkdir()
    (d / "a.bin").write_bytes(bytes(range(8)))
    (d / "b.bin").write_bytes(b"\x89PNG\r\n\x1a\n" + b"0" * 16)

    schema = StructType([
        StructField("path", StringType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])
    src = (
        spark.readStream.format("binaryFile")
        .schema(
            spark.read.format("binaryFile").load(str(d)).schema
        )
        .load(str(d))
        .select(
            F.xxhash64("path").alias("id"),
            F.col("content").alias("payload"),
        )
    )
    meta = extract_binary_metadata(src, id_col="id", bin_col="payload")
    q = (
        meta.writeStream.format("memory")
        .queryName("bin_meta_sink")
        .outputMode("append")
        .start()
    )
    import hashlib

    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM bin_meta_sink").collect()
    finally:
        q.stop()
    got = {(r.n_bytes, r.content_md5) for r in rows}
    want = {
        (8, hashlib.md5(bytes(range(8))).hexdigest()),
        (24, hashlib.md5(b"\x89PNG\r\n\x1a\n" + b"0" * 16).hexdigest()),
    }
    assert got == want
