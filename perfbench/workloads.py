"""The two benchmark workloads and their output check.

An operation is a callable ``op(ctx) -> DataFrame``: the work a user asked
for. The benchmark forces it with a ``noop``-format write (every projected
column is computed, unlike ``count()``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

ANALYTICS = [
    "q_agg_groupby", "q_join_inner", "q_join_broadcast", "q_join_asof",
    "q_tpch_q3", "q_topk_per_group", "q_window_tumbling", "q_sql_transform",
    "q_snapshot_diff",
]
LLM_CURATION = [
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_near",
    "q_dedup_sorted_neighborhood", "q_text_dup_ngram_frac", "q_sim_topk",
]
WORKLOADS = {"analytics": ANALYTICS, "llm_curation": LLM_CURATION}


@dataclass
class Ctx:
    """What an operation needs: the session and its input tables."""

    spark: object
    tables: str  # fixture table directory
    check_s: dict = field(default_factory=dict)  # per-operation seconds of the check pass


def registry_op(name: str):
    def op(ctx: Ctx):
        from etl_open_source_spark.registry import get_registry

        return get_registry()[name].fn(ctx.spark, ctx.tables)

    return op


def ops_for(workload: str) -> dict:
    return {n: registry_op(n) for n in WORKLOADS[workload]}


def pass_order(workload: str, rng) -> list[str]:
    """The seeded operation order of one pass."""
    names = list(WORKLOADS[workload])
    rng.shuffle(names)
    return names


# ------------------------------------------------------------ correctness


def _canon(col, dtype):
    """Round floating values so a digest does not depend on summation order."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType, MapType

    if isinstance(dtype, (DoubleType, FloatType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, (DoubleType, FloatType)):
        return F.transform(col, lambda x: F.round(x.cast("double"), 6))
    if isinstance(dtype, MapType):
        return F.to_json(col)
    return col


def digest(df) -> dict:
    """Row count plus an order-insensitive content hash (sum of per-row
    xxhash64 over every column, floats rounded to 6 decimals)."""
    from pyspark.sql import functions as F

    cols = [_canon(df[f.name], f.dataType) for f in df.schema.fields]
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .first()
    )
    return {"rows": int(row["n"]), "hash": str(row["h"] or 0)}
