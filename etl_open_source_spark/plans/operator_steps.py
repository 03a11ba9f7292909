"""Operator transform steps: the bridge from the reference's Task/Step
spec model to this engine's first-class operator library.

The reference's transform vocabulary is whatever SQL/python a step embeds
(ui/step_editor.py builds config dicts the runner dispatches on); the
`sql` and `python` transform kinds already cover that. This module adds
``{"type": "operator", "name": ..., ...config}`` so a JSON spec can invoke
the curated df→df operators — deterministic sampling, exact dedup,
splitting, whitespace normalization, skyline — without inlining their
implementation as SQL (which for the window/hash ops would be both long
and easy to get subtly wrong, e.g. a missing tiebreak).

Only operators with a DataFrame→DataFrame shape and JSON-expressible
config are exposed; pair-producing or model-building operators
(ngram_jaccard_pairs, pagerank, BPE) stay API-only — a spec step must
keep the one-dataset-flows-through contract of the reference's runner.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_open_source_spark.operators.quality import Check, accepted, in_range, not_null, unique


@dataclass(frozen=True)
class OperatorStep:
    fn: Callable[..., DataFrame]  # (df, cfg) -> DataFrame
    required: tuple[str, ...]  # config keys validate_spec enforces


def _sample_uniform(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.sampling import sample_uniform

    return sample_uniform(df, list(cfg["keys"]), float(cfg["fraction"]))


def _sample_stratified(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.sampling import sample_stratified

    return sample_stratified(
        df, list(cfg["strata"]), list(cfg["keys"]), float(cfg["fraction"])
    )


def _sample_fixed_k(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.sampling import sample_fixed_k

    return sample_fixed_k(df, list(cfg["strata"]), list(cfg["keys"]), int(cfg["k"]))


def _train_test_split(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.sampling import train_test_split

    return train_test_split(df, list(cfg["keys"]), dict(cfg["fractions"]))


def _dedup_exact(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.dedup import exact_dedup

    return exact_dedup(df, list(cfg["cols"]), cfg["keep_by"])


def _normalize_ws(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.text import normalize_ws

    col = cfg["col"]
    return df.withColumn(col, normalize_ws(F.col(col)))


def _pii_redact(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.text import redact_pii

    col = cfg["col"]
    return df.withColumn(col, redact_pii(F.col(col)))


def _normalize_url(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.curation import normalize_url

    col = cfg["col"]
    return df.withColumn(col, normalize_url(F.col(col)))


def _quality_filter(df: DataFrame, cfg: dict) -> DataFrame:
    """Drop rows whose composite text-quality score falls below
    ``min_score`` — the cheap pre-filter stage as a flow-through spec
    step: original columns pass unchanged, only the row set shrinks.
    The score is the SAME Column expression quality_features reports
    (one definition, no drift) applied as a scan-local filter — no
    join-back, no shuffle, runs at scan speed on any corpus size."""
    from etl_open_source_spark.operators.text import quality_score_col

    return df.filter(quality_score_col(cfg["col"]) >= float(cfg["min_score"]))


def _skyline(df: DataFrame, cfg: dict) -> DataFrame:
    from etl_open_source_spark.operators.dominance import skyline_2d

    return skyline_2d(
        df,
        minimize=cfg["minimize"],
        maximize=cfg["maximize"],
        keys=list(cfg["keys"]),
        n_buckets=int(cfg.get("n_buckets", 64)),
    )


OPERATOR_STEPS: dict[str, OperatorStep] = {
    "sample_uniform": OperatorStep(_sample_uniform, ("keys", "fraction")),
    "sample_stratified": OperatorStep(
        _sample_stratified, ("strata", "keys", "fraction")
    ),
    "sample_fixed_k": OperatorStep(_sample_fixed_k, ("strata", "keys", "k")),
    "train_test_split": OperatorStep(_train_test_split, ("keys", "fractions")),
    "dedup_exact": OperatorStep(_dedup_exact, ("cols", "keep_by")),
    "normalize_ws": OperatorStep(_normalize_ws, ("col",)),
    "pii_redact": OperatorStep(_pii_redact, ("col",)),
    "normalize_url": OperatorStep(_normalize_url, ("col",)),
    "skyline_2d": OperatorStep(_skyline, ("minimize", "maximize", "keys")),
    "quality_filter": OperatorStep(_quality_filter, ("col", "min_score")),
}


def run_operator_step(df: DataFrame, cfg: dict) -> DataFrame:
    name = cfg.get("name")
    op = OPERATOR_STEPS.get(name)
    if op is None:
        raise ValueError(
            f"unknown operator step {name!r}; available: {sorted(OPERATOR_STEPS)}"
        )
    missing = [k for k in op.required if k not in cfg]
    if missing:
        raise ValueError(f"operator step {name!r} missing config keys {missing}")
    return op.fn(df, cfg)


# ------------------------------------------------------------ expect checks


@dataclass(frozen=True)
class ExpectCheck:
    build: Callable[[dict], tuple[Check, F.Column]]  # check -> (Check, violations agg)
    required: tuple[str, ...]  # check fields validate_spec enforces


def _min_rows(c: dict) -> tuple[Check, F.Column]:
    n = int(c["n"])
    shortfall = F.greatest(F.lit(0).cast("bigint"), (F.lit(n) - F.count(F.lit(1))).cast("bigint"))
    return Check(f"min_rows({n})", "min_rows"), shortfall


# check kinds of an {"type": "expect", "checks": [...]} step (operators.quality.run_checks)
EXPECT_CHECKS: dict[str, ExpectCheck] = {
    "not_null": ExpectCheck(lambda c: not_null(c["col"]), ("col",)),
    "unique": ExpectCheck(lambda c: unique(c["col"]), ("col",)),
    "in_range": ExpectCheck(lambda c: in_range(c["col"], c["lo"], c["hi"]), ("col", "lo", "hi")),
    "accepted": ExpectCheck(lambda c: accepted(c["col"], c["values"]), ("col", "values")),
    "min_rows": ExpectCheck(_min_rows, ("n",)),
}
