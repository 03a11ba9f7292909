"""Spec validation — the reference's declared-but-stubbed validation
service (services/validation_service.py, 0 bytes; structure.txt:65
"Validation de steps et pipelines") made real.

Static checks only (no Spark session needed); schema-level validation
happens for free at Catalyst analysis time when the pipeline runs.
Connection types, formats, operator names and expect check kinds are
checked against the same tables the runner dispatches on
(plans/connections.py, plans/operator_steps.py).
"""

from __future__ import annotations

from datetime import datetime

from etl_open_source_spark.plans.connections import connector, step_connector
from etl_open_source_spark.plans.cron import next_run_from_cron
from etl_open_source_spark.plans.models import PipelineSpec, Step, StepType
from etl_open_source_spark.plans.operator_steps import EXPECT_CHECKS, OPERATOR_STEPS


def validate_spec(spec: PipelineSpec) -> list[str]:
    """Returns a list of human-readable issues; empty list = valid."""
    issues: list[str] = []
    if not spec.steps:
        issues.append("pipeline has no steps")

    orders = [s.order for s in spec.steps]
    if len(set(orders)) != len(orders):
        issues.append(f"duplicate step orders: {sorted(orders)}")

    conn_ids = {c.id for c in spec.connections}
    for c in spec.connections:
        entry = connector(c.type)
        if entry is None:
            issues.append(f"connection {c.id!r} has unsupported type {c.type!r}")
        elif missing := entry.missing(c.params):
            issues.append(
                f"{c.type} connection {c.id!r} missing {', '.join(map(repr, missing))} in params"
            )
    for s in spec.steps:
        if s.connection_id is not None and s.connection_id not in conn_ids:
            issues.append(f"step {s.name!r} references unknown connection {s.connection_id!r}")

    ordered = spec.ordered_steps()
    if ordered and ordered[0].step_type != StepType.EXTRACT:
        issues.append(
            f"first step {ordered[0].name!r} is {ordered[0].step_type.value}, expected extract"
        )

    for s in ordered:
        if s.step_type == StepType.TRANSFORM:
            issues += _transform_issues(s)
        else:
            issues += _io_issues(spec, s)

    try:
        next_run_from_cron(spec.cron, datetime(2026, 1, 1))
    except Exception as ex:  # noqa: BLE001 — report, don't raise
        issues.append(f"invalid cron {spec.cron!r}: {ex}")

    return issues


def _io_issues(spec: PipelineSpec, s: Step) -> list[str]:
    """Extract/load step checks against the step's connector entry — each
    catches what would otherwise raise mid-run (a raw KeyError, a mode
    error in the writer)."""
    cfg, kind = s.config, s.step_type.value
    conn, entry = step_connector(spec, s)
    if entry is None:  # a named connection's bad type is reported once, above
        return [] if s.connection_id else [
            f"{kind} step {s.name!r} has unsupported format {conn.type!r}"
        ]
    issues = []
    if s.connection_id is None and entry.missing(conn.params):
        issues.append(f"{kind} step {s.name!r} format {conn.type!r} needs a connection")
    if s.step_type == StepType.EXTRACT:
        if entry.extract_keys and not any(cfg.get(k) for k in entry.extract_keys):
            keys = " or ".join(map(repr, entry.extract_keys))
            issues.append(f"{conn.type} extract step {s.name!r} needs {keys}")
        if cfg.get("watermark_col") and not cfg.get("state_path"):
            # incremental extract with nowhere to persist the watermark
            # would re-read everything every run, silently
            issues.append(
                f"incremental extract step {s.name!r} has 'watermark_col' but no 'state_path'"
            )
        return issues
    target, mode = ("table" if entry.jdbc else "path"), cfg.get("mode", "append")
    if entry.write is None:
        issues.append(f"load step {s.name!r}: {conn.type!r} does not support loading")
    else:
        if not cfg.get(target):
            issues.append(f"{conn.type} load step {s.name!r} missing {target!r}")
        if mode not in entry.modes:  # e.g. only parquet implements dynamic overwrite
            issues.append(
                f"load step {s.name!r} uses mode {mode!r} but format {conn.type!r} "
                f"does not support it"
            )
        if cfg.get("partition_by") and not entry.partitioned:
            issues.append(
                f"load step {s.name!r} has 'partition_by' but {conn.type!r} "
                f"does not take it"
            )
    if mode == "overwrite_partitions" and not cfg.get("partition_by"):
        # without partition_by, dynamic overwrite degenerates to a full
        # truncate — the exact data-loss the mode exists to prevent
        issues.append(
            f"load step {s.name!r} uses mode 'overwrite_partitions' but has no 'partition_by'"
        )
    return issues


def _transform_issues(s: Step) -> list[str]:
    cfg, issues = s.config, []
    kind = cfg.get("type", "sql")
    if kind == "sql" and not cfg.get("sql"):
        issues.append(f"sql transform step {s.name!r} missing 'sql'")
    if kind == "python" and not cfg.get("fn"):
        issues.append(f"python transform step {s.name!r} missing 'fn'")
    if kind == "operator":
        op = OPERATOR_STEPS.get(cfg.get("name"))
        if op is None:
            issues.append(
                f"operator step {s.name!r} has unknown operator "
                f"{cfg.get('name')!r} (available: {sorted(OPERATOR_STEPS)})"
            )
        elif missing := [k for k in op.required if k not in cfg]:
            issues.append(f"operator step {s.name!r} ({cfg['name']}) missing config keys {missing}")
    if kind == "expect":
        if not cfg.get("checks"):
            issues.append(f"expect step {s.name!r} has no 'checks'")
        for c in cfg.get("checks") or []:
            check = EXPECT_CHECKS.get(c.get("kind"))
            if check is None:
                issues.append(f"expect step {s.name!r} has unknown check kind {c.get('kind')!r}")
            elif missing := [f for f in check.required if f not in c]:
                issues.append(f"expect step {s.name!r} check {c['kind']!r} missing {missing}")
    return issues
