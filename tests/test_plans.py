"""Pipeline-spec layer tests: spec round-trip, cron parity with the
reference's parser cases, runner end-to-end with history, scheduler ticks,
sanitize semantics.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pytest

from etl_open_source_spark.plans.cron import next_run_from_cron
from etl_open_source_spark.plans.models import ConnectionConfig, PipelineSpec, Step, StepType
from etl_open_source_spark.plans.runner import PipelineRunner
from etl_open_source_spark.plans.scheduler import Scheduler
from etl_open_source_spark.plans.sanitize import sanitize_nulls


# ---------------------------------------------------------------- cron
# Cases mirror reference scheduler/cron_parser.py:4-42 semantics.


def test_cron_every_minute():
    now = datetime(2026, 1, 1, 10, 30, 45)
    assert next_run_from_cron("* * * * *", now) == datetime(2026, 1, 1, 10, 31)


def test_cron_every_n_minutes():
    now = datetime(2026, 1, 1, 10, 31)
    assert next_run_from_cron("*/15 * * * *", now) == datetime(2026, 1, 1, 10, 45)
    now = datetime(2026, 1, 1, 10, 45)
    assert next_run_from_cron("*/15 * * * *", now) == datetime(2026, 1, 1, 11, 0)


def test_cron_fixed_minute_hourly():
    now = datetime(2026, 1, 1, 10, 31)
    assert next_run_from_cron("30 * * * *", now) == datetime(2026, 1, 1, 11, 30)
    now = datetime(2026, 1, 1, 10, 29)
    assert next_run_from_cron("30 * * * *", now) == datetime(2026, 1, 1, 10, 30)


def test_cron_daily_extension():
    now = datetime(2026, 1, 1, 10, 31)
    assert next_run_from_cron("0 9 * * *", now) == datetime(2026, 1, 2, 9, 0)


def test_cron_unsupported_raises():
    with pytest.raises(NotImplementedError):
        next_run_from_cron("0 9 1 * *", datetime(2026, 1, 1))
    with pytest.raises(ValueError):
        next_run_from_cron("bogus", datetime(2026, 1, 1))


# ---------------------------------------------------------------- spec


def _spec(sf_dir: str, out_dir: str) -> PipelineSpec:
    return PipelineSpec(
        id="t1",
        name="orders_rollup",
        cron="*/5 * * * *",
        connections=[ConnectionConfig(id="src", name="fixtures", type="parquet")],
        steps=[
            Step(
                id="s1",
                name="extract",
                step_type=StepType.EXTRACT,
                order=1,
                connection_id="src",
                config={"table": f"{sf_dir}/orders.parquet"},
            ),
            Step(
                id="s2",
                name="transform",
                step_type=StepType.TRANSFORM,
                order=2,
                config={
                    "type": "sql",
                    "sql": "SELECT o_orderstatus, COUNT(*) AS cnt FROM input GROUP BY o_orderstatus",
                },
            ),
            Step(
                id="s3",
                name="load",
                step_type=StepType.LOAD,
                order=3,
                config={"path": f"{out_dir}/rollup", "mode": "replace"},
            ),
        ],
    )


def test_spec_json_roundtrip(sf_dir):
    spec = _spec(sf_dir, "/tmp/x")
    loaded = PipelineSpec.from_json(spec.to_json())
    assert loaded == spec


def test_runner_end_to_end_with_history(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="etl_runner_")
    runner = PipelineRunner(spark, history_path=f"{out}/history")
    spec = _spec(sf_dir, out)
    runner.run(spec)
    result = spark.read.parquet(f"{out}/rollup")
    assert result.count() == 3  # F, P, O
    hist = runner.history().orderBy("started_at").collect()
    statuses = [r.status for r in hist]
    assert "running" in statuses and "success" in statuses
    assert all(r.task_id == "t1" for r in hist)


def test_runner_error_recorded_and_reraised(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="etl_runner_err_")
    runner = PipelineRunner(spark, history_path=f"{out}/history")
    spec = _spec(sf_dir, out)
    spec.steps[1].config["sql"] = "SELECT bogus_column FROM input"
    with pytest.raises(Exception):
        runner.run(spec)
    statuses = {r.status for r in runner.history().collect()}
    assert "error" in statuses


def test_runner_python_transform(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="etl_runner_py_")
    runner = PipelineRunner(
        spark,
        python_transforms={"only_f": lambda df: df.filter(df.o_orderstatus == "F")},
    )
    spec = _spec(sf_dir, out)
    spec.steps[1] = Step(
        id="s2", name="py", step_type=StepType.TRANSFORM, order=2,
        config={"type": "python", "fn": "only_f"},
    )
    result = runner.run(spec)
    assert result.select("o_orderstatus").distinct().collect()[0][0] == "F"


# ------------------------------------------------------------ scheduler


def test_scheduler_first_sighting_only_schedules(spark, sf_dir):
    out = tempfile.mkdtemp(prefix="etl_sched_")
    runner = PipelineRunner(spark)
    spec = _spec(sf_dir, out)
    sched = Scheduler(runner, [spec], check_interval_seconds=3600)
    t0 = datetime(2026, 1, 1, 10, 0, 10)
    assert sched.poll_once(t0) == []  # first sighting: schedule only
    assert sched.next_runs["t1"] == datetime(2026, 1, 1, 10, 5)
    assert sched.poll_once(datetime(2026, 1, 1, 10, 4)) == []
    fired = sched.poll_once(datetime(2026, 1, 1, 10, 5, 1))
    assert fired == ["t1"]
    assert sched.next_runs["t1"] == datetime(2026, 1, 1, 10, 10)


def test_scheduler_disabled_never_fires(spark, sf_dir):
    spec = _spec(sf_dir, "/tmp/x")
    spec.enabled = False
    sched = Scheduler(PipelineRunner(spark), [spec])
    assert sched.poll_once(datetime(2026, 1, 1)) == []
    assert sched.poll_once(datetime(2027, 1, 1)) == []


# -------------------------------------------------------------- sanitize


def test_sanitize_semantics(spark):
    from datetime import datetime as dt

    df = spark.createDataFrame(
        [
            (1, None, None, None),
            (2, "ok", dt(2024, 5, 6, 7, 8, 9, 123456), 2.5),
        ],
        "id int, s string, ts timestamp, x double",
    )
    out = {r.id: r for r in sanitize_nulls(df).collect()}
    assert out[1].s == ""  # string NULL → ''
    assert out[1].ts == dt(1900, 1, 1)  # timestamp NULL → sentinel
    assert out[1].x is None  # numeric NULL kept (documented divergence)
    assert out[2].ts == dt(2024, 5, 6, 7, 8, 9)  # truncated to seconds
    assert out[2].s == "ok" and out[2].x == 2.5


# ------------------------------------------------------------ incremental


def test_incremental_read_high_watermark(spark, sf_dir, tmp_path):
    from etl_open_source_spark.plans.incremental import WatermarkStore, incremental_read

    from etl_open_source_spark.catalog import load_table

    store = WatermarkStore(str(tmp_path / "wm.json"))
    events = load_table(spark, sf_dir, "events")

    # first run: everything is new
    delta1, wm1 = incremental_read(events, "event_id", store, "events")
    assert delta1.count() == events.count()
    store.set("events", wm1)

    # second run with no new data: empty delta, watermark unchanged
    delta2, wm2 = incremental_read(events, "event_id", store, "events")
    assert delta2.count() == 0
    assert wm2 == wm1

    # new rows arrive (simulated by shifting ids past the watermark)
    from pyspark.sql import functions as F

    newer = events.limit(7).withColumn("event_id", F.col("event_id") + wm1 + 1)
    combined = events.unionByName(newer)
    delta3, wm3 = incremental_read(combined, "event_id", store, "events")
    assert delta3.count() == 7
    assert wm3 == wm1 + 7  # ids were wm1+1 .. wm1+7


def test_incremental_failed_run_does_not_advance(spark, sf_dir, tmp_path):
    """At-least-once: if the write fails, the caller does not advance the
    store — the next run re-reads the same delta."""
    from etl_open_source_spark.plans.incremental import WatermarkStore, incremental_read

    from etl_open_source_spark.catalog import load_table

    store = WatermarkStore(str(tmp_path / "wm.json"))
    events = load_table(spark, sf_dir, "events")
    delta1, wm1 = incremental_read(events, "event_id", store, "events")
    # write "fails" → store.set never called
    delta_again, wm_again = incremental_read(events, "event_id", store, "events")
    assert delta_again.count() == delta1.count()
    assert wm_again == wm1


def _inc_spec(src_dir: str, out_dir: str, state: str, load_format: str = "parquet") -> PipelineSpec:
    return PipelineSpec(
        id="inc1",
        name="incremental_events",
        cron="*/5 * * * *",
        connections=[ConnectionConfig(id="src", name="landing", type="parquet")],
        steps=[
            Step(
                id="s1",
                name="extract_delta",
                step_type=StepType.EXTRACT,
                order=1,
                connection_id="src",
                config={
                    "path": src_dir,
                    "watermark_col": "ts",
                    "state_path": state,
                },
            ),
            Step(
                id="s2",
                name="load_append",
                step_type=StepType.LOAD,
                order=2,
                config={"path": f"{out_dir}/target", "mode": "append", "format": load_format},
            ),
        ],
    )


def test_incremental_spec_processes_only_new_rows(spark, tmp_path):
    """Spec-level high-watermark extraction: run 1 loads everything, run 2
    loads ONLY rows newer than the stored watermark, and a FAILED run does
    not advance the watermark (its delta is re-processed after the fix) —
    the at-least-once contract of plans/incremental.py, now reachable from
    a declarative spec ('watermark_col' + 'state_path' on the extract)."""
    import tempfile

    from etl_open_source_spark.plans.runner import PipelineRunner
    from etl_open_source_spark.plans.validation import validate_spec

    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    state = str(tmp_path / "wm.json")

    def land(rows):
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp"
        ).write.mode("append").parquet(src)

    land([(1, datetime(2024, 1, 1, 0, 0)), (2, datetime(2024, 1, 1, 1, 0))])
    runner = PipelineRunner(spark, history_path=str(tmp_path / "hist"))
    spec = _inc_spec(src, out, state)
    assert validate_spec(spec) == []

    runner.run(spec)
    assert spark.read.parquet(f"{out}/target").count() == 2

    # run 2: one new row past the watermark + the old rows still present
    land([(3, datetime(2024, 1, 1, 2, 0))])
    runner.run(spec)
    got = spark.read.parquet(f"{out}/target")
    assert got.count() == 3  # old rows NOT re-appended
    assert {r.event_id for r in got.collect()} == {1, 2, 3}

    # run 3 FAILS at the load (unsupported format) → watermark must NOT move
    land([(4, datetime(2024, 1, 1, 3, 0))])
    bad = _inc_spec(src, out, state, load_format="bogus")
    with pytest.raises(ValueError):
        runner.run(bad)
    runner.run(spec)  # fixed: the failed delta is re-processed, not dropped
    assert {r.event_id for r in spark.read.parquet(f"{out}/target").collect()} == {1, 2, 3, 4}

    # validation: watermark without state_path is caught before running
    nostate = _inc_spec(src, out, state)
    nostate.steps[0].config.pop("state_path")
    assert any("state_path" in i for i in validate_spec(nostate))


def test_expect_step_gates_pipeline(spark, tmp_path):
    """Declarative data-quality gate inside a pipeline: passing checks let
    the run through untouched; a violated check fails the run (recorded
    as error in history); on_fail='warn' downgrades to a log line. All
    row checks fold into ONE aggregate scan (operators/quality.py)."""
    from etl_open_source_spark.plans.runner import PipelineRunner
    from etl_open_source_spark.plans.validation import validate_spec

    def spec(checks, on_fail="error"):
        return PipelineSpec(
            id="gate1",
            name="gated",
            cron="*/5 * * * *",
            connections=[ConnectionConfig(id="src", name="fx", type="parquet")],
            steps=[
                Step(id="s1", name="extract", step_type=StepType.EXTRACT, order=1,
                     connection_id="src",
                     config={"table": "/root/testdata/sf0.001/orders.parquet"}),
                Step(id="s2", name="gate", step_type=StepType.TRANSFORM, order=2,
                     config={"type": "expect", "checks": checks, "on_fail": on_fail}),
                Step(id="s3", name="load", step_type=StepType.LOAD, order=3,
                     config={"path": f"{tmp_path}/out", "mode": "replace"}),
            ],
        )

    good = spec([
        {"kind": "not_null", "col": "o_orderkey"},
        {"kind": "unique", "col": "o_orderkey"},
        {"kind": "in_range", "col": "o_totalprice", "lo": 0, "hi": 1e9},
        {"kind": "accepted", "col": "o_orderstatus", "values": ["F", "O", "P"]},
        {"kind": "min_rows", "n": 10},
    ])
    assert validate_spec(good) == []
    runner = PipelineRunner(spark, history_path=f"{tmp_path}/hist")
    runner.run(good)
    assert spark.read.parquet(f"{tmp_path}/out").count() > 0

    bad = spec([{"kind": "accepted", "col": "o_orderstatus", "values": ["ZZZ"]},
                {"kind": "min_rows", "n": 10**9}])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expect step .* failed"):
        runner.run(bad)
    statuses = [r.status for r in runner.history().collect()]
    assert "error" in statuses

    # warn mode: same violations, run completes
    runner.run(spec([{"kind": "min_rows", "n": 10**9}], on_fail="warn"))

    # validation catches malformed checks before running
    malformed = spec([{"kind": "in_range", "col": "o_totalprice"},
                      {"kind": "nope"}])
    issues = validate_spec(malformed)
    assert any("missing ['lo', 'hi']" in i for i in issues)
    assert any("unknown check kind" in i for i in issues)
    assert any("no 'checks'" in i for i in validate_spec(spec([])))


def test_load_step_repartition_controls_file_count(spark, tmp_path):
    """A load step's 'repartition' config must size the output layout:
    N even round-robin files instead of one file per upstream partition
    — the declarative answer to micro-batch small-files."""
    import os

    from etl_open_source_spark.plans.runner import PipelineRunner

    spec = PipelineSpec(
        id="layout1", name="layout", cron="*/5 * * * *",
        connections=[ConnectionConfig(id="src", name="fx", type="parquet")],
        steps=[
            Step(id="s1", name="x", step_type=StepType.EXTRACT, order=1,
                 connection_id="src",
                 config={"table": "/root/testdata/sf0.001/orders.parquet"}),
            Step(id="s2", name="l", step_type=StepType.LOAD, order=2,
                 config={"path": f"{tmp_path}/out", "mode": "replace",
                         "repartition": 3}),
        ],
    )
    PipelineRunner(spark).run(spec)
    n = sum(1 for f in os.listdir(f"{tmp_path}/out") if f.endswith(".parquet"))
    assert n == 3
    assert spark.read.parquet(f"{tmp_path}/out").count() == 1500


# ------------------------------------------------------- operator steps


def test_operator_step_pipeline_matches_direct_calls(spark):
    """The shipped corpus_curate.json (operator transform steps) must
    produce exactly the rows of the equivalent direct operator chain —
    the spec layer is routing, never reimplementation."""
    from etl_open_source_spark.operators.dedup import exact_dedup
    from etl_open_source_spark.operators.sampling import (
        sample_uniform,
        train_test_split,
    )
    from etl_open_source_spark.operators.text import normalize_ws, quality_score_col
    from pyspark.sql import functions as F

    spec = PipelineSpec.load("examples/corpus_curate.json")
    out = tempfile.mkdtemp(prefix="opstep_")
    runner = PipelineRunner(spark, history_path=f"{out}/history")
    runner.run(spec)
    got = spark.read.parquet("/tmp/etl_cli_demo/corpus_curated")

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = d.withColumn("text", normalize_ws(F.col("text")))
    want = want.filter(quality_score_col("text") >= 0.3)
    want = exact_dedup(want, ["text"], "doc_id")
    want = train_test_split(want, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    want = sample_uniform(want, ["doc_id"], 0.5)
    assert got.count() == want.count() > 0
    cols = got.columns
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


def test_operator_step_validation_errors():
    """Unknown operator name and missing required config keys are caught
    at validate time, not as a KeyError mid-run."""
    from etl_open_source_spark.plans.validation import validate_spec

    def _spec(cfg):
        return PipelineSpec(
            id="p", name="p", cron="* * * * *", enabled=True,
            connections=[ConnectionConfig(id="c", name="c", type="parquet",
                                          params={"path": "/tmp/x"})],
            steps=[
                Step(id="s1", name="e", step_type=StepType.EXTRACT, order=1,
                     connection_id="c", config={"path": "/tmp/x"}),
                Step(id="s2", name="t", step_type=StepType.TRANSFORM, order=2,
                     config=cfg),
                Step(id="s3", name="l", step_type=StepType.LOAD, order=3,
                     config={"path": "/tmp/y"}),
            ],
        )

    bad_name = validate_spec(_spec({"type": "operator", "name": "nope"}))
    assert any("unknown operator" in i for i in bad_name)
    missing = validate_spec(_spec({"type": "operator", "name": "sample_uniform",
                                   "keys": ["id"]}))
    assert any("missing" in i and "fraction" in i for i in missing)
    ok = validate_spec(_spec({"type": "operator", "name": "sample_uniform",
                              "keys": ["id"], "fraction": 0.5}))
    assert not [i for i in ok if "operator" in i]


def test_pii_and_url_operator_steps(spark):
    """The pii_redact / normalize_url spec steps must route to the shared
    operators — identical output to calling them directly."""
    from etl_open_source_spark.operators.curation import normalize_url
    from etl_open_source_spark.operators.text import redact_pii
    from etl_open_source_spark.plans.operator_steps import run_operator_step
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@x.co.uk or 10.1.2.3", "HTTPS://X.com/a/?utm_source=t&q=1"),
            (2, "call +1-555-123-4567 now", "http://y.org/p#frag"),
        ],
        ["id", "text", "url"],
    )
    got = run_operator_step(df, {"name": "pii_redact", "col": "text"})
    want = df.withColumn("text", redact_pii(F.col("text")))
    assert [r.text for r in got.orderBy("id").collect()] == [
        r.text for r in want.orderBy("id").collect()
    ]
    assert "[EMAIL]" in got.orderBy("id").collect()[0].text

    got_u = run_operator_step(df, {"name": "normalize_url", "col": "url"})
    want_u = df.withColumn("url", normalize_url(F.col("url")))
    assert [r.url for r in got_u.orderBy("id").collect()] == [
        r.url for r in want_u.orderBy("id").collect()
    ]


def test_load_mode_overwrite_partitions(spark, tmp_path):
    """The 'overwrite_partitions' load mode replaces ONLY the partitions
    present in the incoming frame (dynamic overwrite): a backfill spec
    re-writing one status partition must leave the others byte-identical,
    and a spec declaring the mode without partition_by must fail at
    validate time (without partitions it degenerates to a full
    truncate)."""
    import pandas as pd

    from etl_open_source_spark.plans.validation import validate_spec
    from etl_open_source_spark.sources.writers import write_files

    dest = str(tmp_path / "orders_by_status")
    src = spark.createDataFrame(
        [(1, "F", 10.0), (2, "F", 20.0), (3, "O", 30.0), (4, "P", 40.0)],
        "id bigint, status string, price double",
    )
    write_files(src, dest, "parquet", "replace", partition_by=["status"])
    fix = spark.createDataFrame(
        [(1, "F", 99.0)], "id bigint, status string, price double"
    )
    write_files(fix, dest, "parquet", "overwrite_partitions", partition_by=["status"])
    back = spark.read.parquet(dest).toPandas().sort_values("id").reset_index(drop=True)
    assert list(back["id"]) == [1, 3, 4]           # F fully replaced by 1 row
    assert back.loc[0, "price"] == 99.0            # corrected value
    assert set(back["status"]) == {"F", "O", "P"}  # other partitions intact

    import pytest as _pytest

    with _pytest.raises(ValueError, match="requires partition_by"):
        write_files(fix, dest, "parquet", "overwrite_partitions")

    spec = PipelineSpec(
        id="p", name="p", cron="* * * * *", enabled=True,
        connections=[ConnectionConfig(id="c", name="c", type="parquet",
                                      params={"path": dest})],
        steps=[
            Step(id="s1", name="e", step_type=StepType.EXTRACT, order=1,
                 connection_id="c", config={"path": dest}),
            Step(id="s2", name="l", step_type=StepType.LOAD, order=2,
                 config={"path": dest, "mode": "overwrite_partitions"}),
        ],
    )
    issues = validate_spec(spec)
    assert any("overwrite_partitions" in i and "partition_by" in i for i in issues)


def test_overwrite_partitions_non_parquet_rejected_at_validate():
    """A csv load step declaring mode 'overwrite_partitions' must fail at
    validate time (only the parquet writer implements dynamic overwrite;
    before this check the spec validated clean and died mid-pipeline in
    the csv writer — self-review finding)."""
    from etl_open_source_spark.plans.validation import validate_spec

    spec = PipelineSpec(
        id="p", name="p", cron="* * * * *", enabled=True,
        connections=[ConnectionConfig(id="c", name="c", type="csv",
                                      params={"path": "/tmp/x"})],
        steps=[
            Step(id="s1", name="e", step_type=StepType.EXTRACT, order=1,
                 connection_id="c", config={"path": "/tmp/x"}),
            Step(id="s2", name="l", step_type=StepType.LOAD, order=2,
                 connection_id="c",
                 config={"path": "/tmp/y", "mode": "overwrite_partitions",
                         "partition_by": ["day"]}),
        ],
    )
    issues = validate_spec(spec)
    assert any("does not support it" in i for i in issues), issues


def test_extract_csv_foreign_dialect_default(spark, tmp_path):
    """The generic plan runner reads FOREIGN CSVs: a bare empty field is
    NULL (most external writers' convention), and a literal backslash-N
    is just text — the engine's \\N round-trip token must never leak
    onto user-supplied files (ADVICE r8). Plans reading engine-written
    CSV opt in with `"dialect": "engine"`."""
    p = tmp_path / "foreign"
    p.mkdir()
    (p / "data.csv").write_text("k,s\n1,\n2,\\N\n3,x\n")
    spec = PipelineSpec(
        id="fcsv",
        name="foreign_csv",
        cron="*/5 * * * *",
        connections=[ConnectionConfig(id="c", name="c", type="csv")],
        steps=[
            Step(
                id="s1", name="extract", step_type=StepType.EXTRACT, order=1,
                connection_id="c",
                config={"path": str(p), "schema": "k int, s string"},
            ),
            Step(
                id="s2", name="transform", step_type=StepType.TRANSFORM, order=2,
                config={"type": "sql", "sql": "SELECT k, s FROM input"},
            ),
        ],
    )
    runner = PipelineRunner(spark, history_path=str(tmp_path / "hist"))
    got = {r.k: r.s for r in runner.run(spec).collect()}
    assert got == {1: None, 2: "\\N", 3: "x"}, got

    # engine dialect: \N maps back to NULL. (A bare empty field still
    # reads NULL — the engine writer always QUOTES '' as "", so bare
    # empties don't occur in engine-written files; '' survives via the
    # quoted form, pinned in test_sources.py's write/read round trip.)
    spec.steps[0].config["dialect"] = "engine"
    spec.id = "ecsv"
    got = {r.k: r.s for r in runner.run(spec).collect()}
    assert got == {1: None, 2: None, 3: "x"}, got


def test_extract_step_config_overrides_connection_params(spark, tmp_path):
    """One precedence order for extract options: step config overrides
    connection params for schema exactly as it already did for dialect
    (ADVICE r9 — the two previously resolved conflicts in opposite
    directions)."""
    p = tmp_path / "prec"
    p.mkdir()
    (p / "data.csv").write_text("k,s\n1,x\n2,\n")
    spec = PipelineSpec(
        id="prec",
        name="precedence",
        cron="*/5 * * * *",
        # connection says "read k as string"; the step pins k int — the
        # step must win
        connections=[ConnectionConfig(
            id="c", name="c", type="csv",
            params={"schema": "k string, s string", "dialect": "engine"},
        )],
        steps=[
            Step(
                id="s1", name="extract", step_type=StepType.EXTRACT, order=1,
                connection_id="c",
                config={"path": str(p), "schema": "k int, s string",
                        "dialect": "foreign"},
            ),
        ],
    )
    runner = PipelineRunner(spark, history_path=str(tmp_path / "hist"))
    out = runner.run(spec)
    assert dict(out.dtypes)["k"] == "int"  # step schema won
    got = {r.k: r.s for r in out.collect()}
    assert got == {1: "x", 2: None}, got

    # and with no step-level override, connection params still apply
    spec.steps[0].config.pop("schema")
    spec.steps[0].config.pop("dialect")
    spec.id = "prec2"
    out = runner.run(spec)
    assert dict(out.dtypes)["k"] == "string"
