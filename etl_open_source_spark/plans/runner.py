"""Pipeline runner — the engine analog of the reference's EtlEngine
(reference core/engine.py:28-96): sort steps by order, thread ONE dataset
through extract → transform → load, record running/success/error history.

Extract and load dispatch on the connector table (plans/connections.py):
files, jdbc and its dialects read and write, mongo only reads. The
reference dispatches SQL Server only; its other DBMS types are comments
(core/engine.py:110-135,175-188).

Differences by design: the dataset is a lazy distributed DataFrame (nothing
materializes until the load action); history is an append-only parquet log
(reference uses SQLite rows, storage/repository.py:336-364); transforms are
Spark SQL / DataFrame expressions instead of the reference's stubbed pandas
/ python hooks.
"""

from __future__ import annotations

import threading
import traceback
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from etl_open_source_spark.plans.connections import step_connector
from etl_open_source_spark.plans.models import PipelineSpec, Step, StepType
from etl_open_source_spark.plans.sanitize import sanitize_nulls
from etl_open_source_spark.sources.writers import write_files

# createOrReplaceTempView("input") is session-global; overlapping
# scheduler threads must not swap each other's dataset between view
# registration and spark.sql() resolving it (the resolved plan is safe
# once spark.sql returns).
_INPUT_VIEW_LOCK = threading.Lock()

HISTORY_SCHEMA = (
    "run_id string, task_id string, started_at timestamp, finished_at timestamp, "
    "status string, message string"
)


class PipelineRunner:
    """Executes PipelineSpecs; keeps a run-history parquet log."""

    def __init__(
        self,
        spark: SparkSession,
        history_path: str | None = None,
        python_transforms: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    ):
        self.spark = spark
        self.history_path = history_path
        # registered named python transforms — the safe version of the
        # reference's arbitrary custom-code step (core/engine.py:155-158)
        self.python_transforms = python_transforms or {}

    # ------------------------------------------------------------ history

    def _log(self, run_id: str, task_id: str, started_at, finished_at, status: str, message: str):
        if not self.history_path:
            return
        row = [(run_id, task_id, started_at, finished_at, status, message)]
        write_files(self.spark.createDataFrame(row, HISTORY_SCHEMA), self.history_path,
                    "parquet", "append")

    def history(self) -> DataFrame:
        return self.spark.read.parquet(self.history_path)

    # --------------------------------------------------------------- run

    def run(self, spec: PipelineSpec) -> DataFrame | None:
        """Run all steps in order; returns the final DataFrame (the
        reference's LOAD passthrough semantics, core/engine.py:92-93, so
        steps keep chaining after a load)."""
        run_id = uuid.uuid4().hex
        started = datetime.now(timezone.utc).replace(tzinfo=None)
        self._log(run_id, spec.id, started, None, "running", "")
        data: DataFrame | None = None
        # (store, key, new_wm) per incremental extract this run; advanced
        # ONLY after every step (incl. the load) succeeded — advancing on
        # failure would silently drop the failed delta next run
        # (at-least-once, plans/incremental.py contract). A LOCAL list,
        # threaded through the step calls: the Scheduler fires overlapping
        # pipelines on one shared runner, and instance state would let run
        # B wipe A's pending entries and commit its own watermark from A's
        # success path (premature advance = silent delta loss on failure).
        pending_watermarks: list = []
        try:
            for step in spec.ordered_steps():
                data = self._execute_step(spec, step, data, pending_watermarks)
            for store, key, new_wm in pending_watermarks:
                if new_wm is not None:
                    store.set(key, new_wm)
            finished = datetime.now(timezone.utc).replace(tzinfo=None)
            self._log(run_id, spec.id, started, finished, "success", "")
            return data
        except Exception as ex:  # noqa: BLE001 — recorded then re-raised, like the reference
            finished = datetime.now(timezone.utc).replace(tzinfo=None)
            self._log(run_id, spec.id, started, finished, "error", f"{ex}\n{traceback.format_exc()[-2000:]}")
            raise

    # ------------------------------------------------------------- steps

    def _execute_step(
        self,
        spec: PipelineSpec,
        step: Step,
        data: DataFrame | None,
        pending_watermarks: list | None = None,
    ) -> DataFrame:
        if step.step_type == StepType.EXTRACT:
            return self._extract(spec, step, pending_watermarks)
        if step.step_type == StepType.TRANSFORM:
            if data is None:
                raise ValueError(f"transform step {step.name!r} has no input")
            return self._transform(step, data)
        if step.step_type == StepType.LOAD:
            if data is None:
                raise ValueError(f"load step {step.name!r} has no input")
            self._load(spec, step, data)
            return data  # passthrough, steps keep chaining
        raise ValueError(f"unknown step type: {step.step_type}")

    def _extract(
        self, spec: PipelineSpec, step: Step, pending_watermarks: list | None = None
    ) -> DataFrame:
        """Full extract, optionally narrowed to the high-watermark delta
        when the step declares ``watermark_col`` + ``state_path`` — the
        incremental pattern the reference's full-table re-read can't do
        (core/extractors/sqlserver.py:52). The watermark predicate is a
        plain Catalyst filter, so it pushes into the parquet scan / JDBC
        query and an incremental run touches only new row groups."""
        conn, entry = step_connector(spec, step)
        if entry is None:
            raise ValueError(f"unsupported extract format: {conn.type}")
        cfg = step.config
        df = entry.read(self.spark, conn, cfg)
        # truthiness, matching validate_spec's predicate — a null/empty
        # watermark_col must mean "not incremental", not a KeyError mid-run
        if cfg.get("watermark_col"):
            from etl_open_source_spark.plans.incremental import (
                WatermarkStore,
                incremental_read,
            )

            store = WatermarkStore(cfg["state_path"])
            key = cfg.get("state_key", f"{spec.id}:{step.id}")
            df, new_wm = incremental_read(df, cfg["watermark_col"], store, key)
            if pending_watermarks is not None:
                pending_watermarks.append((store, key, new_wm))
            else:  # direct _execute_step call outside run(): commit-now
                if new_wm is not None:
                    store.set(key, new_wm)
        return df

    def _transform(self, step: Step, data: DataFrame) -> DataFrame:
        cfg = step.config
        kind = cfg.get("type", "sql")
        if kind == "sql":
            # dataset addressable as `input` inside the SQL; lock spans
            # registration + resolution so concurrent pipelines never read
            # each other's dataset through the shared view name
            with _INPUT_VIEW_LOCK:
                data.createOrReplaceTempView("input")
                return self.spark.sql(cfg["sql"])
        if kind == "sanitize":
            return sanitize_nulls(data)
        if kind == "python":
            fn = self.python_transforms.get(cfg["fn"])
            if fn is None:
                raise ValueError(f"unknown python transform: {cfg['fn']!r}")
            return data.transform(fn)
        if kind == "expect":
            return self._expect(step, data)
        if kind == "operator":
            # curated first-class operators (deterministic sampling, exact
            # dedup, splits, skyline, …) addressable from a JSON spec —
            # see plans/operator_steps.py
            from etl_open_source_spark.plans.operator_steps import run_operator_step

            return run_operator_step(data, cfg)
        raise ValueError(f"unsupported transform type: {kind}")

    def _expect(self, step: Step, data: DataFrame) -> DataFrame:
        """Data-quality gate (the dbt-test / expectation-checkpoint step):
        evaluate declarative checks against the dataset in ONE aggregate
        scan (operators/quality.py) and fail the run — recorded as error
        in history — if any check has violations. ``on_fail: "warn"``
        downgrades to a log line so exploratory pipelines keep flowing.
        The dataset passes through unchanged."""
        from etl_open_source_spark.operators.quality import run_checks
        from etl_open_source_spark.plans.operator_steps import EXPECT_CHECKS

        cfg = step.config
        row_checks = []
        for c in cfg["checks"]:
            check = EXPECT_CHECKS.get(c["kind"])
            if check is None:
                raise ValueError(f"unknown expect check kind: {c['kind']!r}")
            row_checks.append(check.build(c))
        failed = [
            (r.rule, r.violations)
            for r in run_checks(data, row_checks).collect()
            if r.violations > 0
        ]
        if failed:
            msg = f"expect step {step.name!r} failed: " + ", ".join(
                f"{rule} ({v} violations)" for rule, v in failed
            )
            if cfg.get("on_fail", "error") == "warn":
                print(f"WARN: {msg}")
            else:
                raise ValueError(msg)
        return data

    def _load(self, spec: PipelineSpec, step: Step, data: DataFrame) -> None:
        conn, entry = step_connector(spec, step)
        if entry is None or entry.write is None:
            raise ValueError(f"unsupported load format: {conn.type}")
        entry.write(data, conn, step.config)
