"""Writers/sinks — the engine's loader surface.

Replaces the reference's loaders (the row-at-a-time SQL Server insert loop at
core/loaders/sqlserver.py:271-286 plus the stubbed postgres/mysql/csv
loaders): distributed `df.write` with proper modes.

Mode parity (core/loaders/sqlserver.py:244-269):
- append  → `mode("append")`
- replace → `mode("overwrite")`; for JDBC add ``option("truncate","true")``
  to match the reference's DELETE-rows-keep-DDL semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

VALID_MODES = {"append", "replace", "overwrite_partitions"}
# non-parquet sinks: dynamic partition overwrite is a partitioned-layout
# concept — only the parquet writer accepts the third mode
VALID_BASIC_MODES = {"append", "replace"}


def _canonicalize_partition_keys(df: DataFrame, partition_by: list[str]) -> DataFrame:
    """Hive-style directory layouts cannot represent an EMPTY-STRING
    partition value: Spark writes both ``''`` and NULL as
    ``__HIVE_DEFAULT_PARTITION__``, and the read-back yields NULL for
    both — silently merging two distinct groups. Make the conflation an
    explicit, documented contract instead: ``''`` on a string partition
    column is canonicalized to NULL at write time, so the round trip is
    value-faithful to what the layout can actually store (randomized IO
    differential catch: '' order statuses came back NULL and collapsed
    into the NULL partition's counts)."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for c in partition_by:
        if dtypes.get(c) == "string":
            df = df.withColumn(c, F.nullif(F.col(c), F.lit("")))
    return df


def write_parquet(df: DataFrame, path: str, mode: str = "append", partition_by: list[str] | None = None) -> None:
    """``overwrite_partitions`` = overwrite mode with per-write
    ``partitionOverwriteMode=dynamic``: ONLY the partitions present in
    ``df`` are replaced — the idempotent daily-backfill semantics
    (q_sink_partition_overwrite pins the behavior; plain ``replace``
    would truncate the whole table). Requires ``partition_by``."""
    if mode not in VALID_MODES:
        raise ValueError(f"mode must be one of {VALID_MODES}, got {mode!r}")
    if mode == "overwrite_partitions":
        if not partition_by:
            raise ValueError(
                "mode 'overwrite_partitions' requires partition_by — without "
                "partitions, dynamic overwrite degenerates to a full truncate"
            )
        (
            _canonicalize_partition_keys(df, partition_by)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        return
    if partition_by:
        df = _canonicalize_partition_keys(df, partition_by)
    writer = df.write.mode("overwrite" if mode == "replace" else "append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "replace",
    header: bool = True,
    null_value: str = "\\N",
) -> None:
    """CSV dialect: NULL is written as ``\\N`` (the Hive/MySQL dump
    convention) and empty string as ``""`` — Spark's default writes BOTH
    as an empty field, so ``''`` silently becomes NULL on read-back
    (randomized IO differential catch). ``read_csv`` defaults to the
    same token, making the engine round trip lossless; pass
    ``null_value=""`` to emit the lossy bare-empty dialect for foreign
    consumers that require it."""
    if mode not in VALID_BASIC_MODES:
        raise ValueError(f"mode must be one of {VALID_BASIC_MODES}, got {mode!r}")
    (
        df.write.mode("overwrite" if mode == "replace" else "append")
        .option("header", str(header).lower())
        .option("nullValue", null_value)
        .csv(path)
    )


def write_json(df: DataFrame, path: str, mode: str = "replace") -> None:
    if mode not in VALID_BASIC_MODES:
        raise ValueError(f"mode must be one of {VALID_BASIC_MODES}, got {mode!r}")
    df.write.mode("overwrite" if mode == "replace" else "append").json(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "append", partition_by: list[str] | None = None
) -> None:
    """ORC sink — Spark-native columnar alternative to parquet (same
    pushdown/pruning story); rounds out the reference's stubbed loader
    matrix (core/loaders/*.py, all 0-byte)."""
    if mode not in VALID_BASIC_MODES:
        raise ValueError(f"mode must be one of {VALID_BASIC_MODES}, got {mode!r}")
    if partition_by:
        df = _canonicalize_partition_keys(df, partition_by)
    writer = df.write.mode("overwrite" if mode == "replace" else "append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_xml(df: DataFrame, path: str, mode: str = "replace", row_tag: str = "row") -> None:
    """XML sink — built into Spark core since 4.0 (SPARK-44265 merged the
    external spark-xml connector), so no extra jar. Row-per-element;
    splittable on read via the StAX record reader."""
    if mode not in VALID_BASIC_MODES:
        raise ValueError(f"mode must be one of {VALID_BASIC_MODES}, got {mode!r}")
    (
        df.write.mode("overwrite" if mode == "replace" else "append")
        .option("rowTag", row_tag)
        .format("xml")
        .save(path)
    )


def jdbc_write_options(
    url: str,
    table: str,
    mode: str,
    batchsize: int = 10_000,
    column_types: dict[str, str] | None = None,
    **extra: str,
) -> tuple[str, dict[str, str]]:
    """Options for a batched JDBC write — replaces the reference's one
    INSERT round-trip per row (core/loaders/sqlserver.py:282-286) with
    executor-parallel batched inserts. Returns (spark_mode, options).

    ``column_types`` maps columns to target DDL types for auto
    CREATE TABLE — the reference's ensure_table_exists / DDL-generation
    path (core/loaders/sqlserver.py:83-239, e.g. preserving varchar(n) and
    decimal(p,s) from a source schema) expressed as Spark's
    ``createTableColumnTypes`` option."""
    if mode not in VALID_BASIC_MODES:
        raise ValueError(f"mode must be one of {VALID_BASIC_MODES}, got {mode!r}")
    spark_mode = "append" if mode == "append" else "overwrite"
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    if mode == "replace":
        # DELETE-not-DROP parity: truncate preserves the target's DDL.
        opts["truncate"] = "true"
    if column_types:
        opts["createTableColumnTypes"] = ", ".join(
            f"{c} {t}" for c, t in column_types.items()
        )
    opts.update(extra)
    return spark_mode, opts


# pandas-dtype → SQL DDL fallback map — parity with the reference's
# dtype mapping table (core/loaders/sqlserver.py:217-239), with the
# deliberate divergence that int64 stays BIGINT (the reference narrows
# int64 → INT, SURVEY §1.3).
SPARK_TO_DDL = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "boolean": "BIT",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
    "string": "VARCHAR(4000)",
}


def ddl_column_types(df: DataFrame) -> dict[str, str]:
    """Derive the auto-CREATE-TABLE column types from a DataFrame schema
    (the engine's version of _generate_create_table_sql's fallback branch,
    core/loaders/sqlserver.py:217-239)."""
    return {
        f.name: SPARK_TO_DDL.get(f.dataType.simpleString(), "VARCHAR(4000)")
        for f in df.schema.fields
    }


def write_jdbc(df: DataFrame, **kwargs) -> None:
    """Apply ``jdbc_write_options`` to a real JDBC writer.

    Proven live against Spark's bundled embedded Derby driver
    (tests/test_jdbc_live.py) — the same executor-parallel batched-insert
    path runs against SQL Server/postgres/mysql given their driver jar;
    only the URL/driver options differ (``dialect_jdbc_options``). This is
    the distributed replacement for the reference's one-INSERT-per-row
    loop (core/loaders/sqlserver.py:282-286)."""
    spark_mode, opts = jdbc_write_options(**kwargs)
    df.write.format("jdbc").options(**opts).mode(spark_mode).save()
