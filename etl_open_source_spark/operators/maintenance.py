"""Table-maintenance operators: snapshot diffing, SCD2 point-in-time
lookup, and small-file compaction.

[EXT] per SURVEY.md §2 — the reference's loaders only append/replace whole
tables (core/loaders/sqlserver.py:244-288) and its extractors re-read full
snapshots each run; it has no way to answer "what changed between
yesterday's load and today's". These operators fill that warehouse-
maintenance layer Spark-first:

- ``snapshot_diff`` derives a changelog (insert/update/delete rows) from
  two full snapshots — the inverse of ``q_cdc_apply`` (queries/misc.py),
  which *applies* a changelog. One full-outer sort-merge join on the key;
  with both snapshots bucketed/partitioned on the key the exchange
  disappears entirely, so at 100 TB this is a co-partitioned zip, not a
  global shuffle.
- ``scd2_lookup`` joins facts to the dimension version valid at each
  fact's timestamp. Deliberately an **equi-join on the key with a residual
  validity filter**, NOT a range join: version count per key is small and
  bounded (a handful of changes per entity), so the equi-join shuffles
  each fact row to exactly one reducer and the residual filter scans that
  key's few versions — no interval index, no bucketed range join needed.
- ``compact_parquet`` rewrites a small-file directory into
  ``ceil(bytes / target_file_bytes)`` files — the standard answer to the
  small-files problem that kills NameNode/listing and per-task overheads
  at scale. Round-robin repartition (not coalesce) so output files are
  uniformly sized even when input files are skewed.
"""

from __future__ import annotations

import functools
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.sources.writers import write_files


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: list[str], compare: list[str]
) -> DataFrame:
    """Full-outer join ``old`` vs ``new`` on ``keys`` and classify every
    row as insert / update / delete; unchanged rows are dropped. Output:
    keys, ``change_type``, and ``old_<c>`` / ``new_<c>`` for each compared
    column. Null-safe comparison (a NULL→value flip is an update)."""
    # Explicit presence flags, NOT key-null checks: the join matches NULL
    # keys via eqNullSafe, so a NULL-key row on one side must still read
    # as "present" there — key.isNotNull() would misclassify every
    # NULL-key change as an insert (and emit spurious rows for unchanged
    # NULL-key rows).
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare],
        F.lit(True).alias("__in_new"),
    )
    cond = functools.reduce(
        lambda x, y: x & y,
        [F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}")) for k in keys],
    )
    joined = o.join(n, cond, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    differs = functools.reduce(
        lambda x, y: x | y,
        [~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")) for c in compare],
    )
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(differs, F.lit("update"))
    )  # unchanged → NULL → filtered
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
            *[c for pair in ((f"old_{c}", f"new_{c}") for c in compare) for c in pair],
        )
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_ts: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time dimension join: each fact row picks the dim version
    with ``valid_from <= fact_ts < valid_to``. ``dim`` must carry
    ``valid_from``/``valid_to`` (half-open, non-overlapping per key — the
    invariant ``operators/scd.py scd2_apply`` maintains), so at most one
    version matches and the join never duplicates facts."""
    cond = (
        (facts[fact_key] == dim[dim_key])
        & (facts[fact_ts] >= dim["valid_from"])
        & (facts[fact_ts] < dim["valid_to"])
    )
    return facts.join(dim, cond, how)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int | None = None,
    num_files: int | None = None,
) -> int:
    """Rewrite ``src_dir`` into ``dst_dir`` with either an explicit
    ``num_files`` or ``ceil(source_bytes / target_file_bytes)`` files.
    Returns the output file count. Round-robin ``repartition(n)`` (not
    ``coalesce``) so every output file gets an even share regardless of
    input-file skew; ``coalesce`` would glue neighboring small files and
    inherit their skew."""
    if (num_files is None) == (target_file_bytes is None):
        raise ValueError("pass exactly one of num_files / target_file_bytes")
    if num_files is None:
        total = _parquet_bytes(src_dir)
        num_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_dir)
    write_files(df.repartition(num_files), dst_dir, "parquet", "replace")
    return _parquet_file_count(dst_dir)


def _parquet_bytes(root: str) -> int:
    """Recursive: hive-partitioned layouts keep files in subdirectories."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _parquet_file_count(root: str) -> int:
    return sum(
        1 for d, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )
