"""Writers/sinks — the engine's loader surface.

Replaces the reference's loaders (the row-at-a-time SQL Server insert loop at
core/loaders/sqlserver.py:271-286 plus the stubbed postgres/mysql/csv
loaders): distributed `df.write`, one file writer over the format table in
sources/formats.py, and batched JDBC writes. Load modes map to Spark save
modes in one place, ``formats.spark_mode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_open_source_spark.sources.formats import BASIC_MODES, file_format, spark_mode


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


def write_files(
    df: DataFrame,
    path: str,
    fmt: str,
    mode: str,
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write ``df`` as ``fmt`` files with the format's engine options
    (``options`` override them). ``partition_by`` lays out Hive-style
    directories, for the formats that take it.

    ``overwrite_partitions`` replaces ONLY the partitions present in
    ``df`` — the idempotent daily-backfill semantics
    (q_sink_partition_overwrite pins the behavior; plain ``replace``
    would truncate the whole table). Requires ``partition_by``."""
    spec = file_format(fmt)
    writer_mode = spark_mode(mode, spec.modes)
    if mode == "overwrite_partitions" and not partition_by:
        raise ValueError(
            "mode 'overwrite_partitions' requires partition_by — without "
            "partitions, dynamic overwrite degenerates to a full truncate"
        )
    if partition_by:
        if not spec.partitioned:
            raise ValueError(f"{fmt} files take no partition_by")
        df = _canonicalize_partition_keys(df, partition_by)
    writer = df.write.mode(writer_mode).options(**{**spec.write, **options})
    if mode == "overwrite_partitions":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(fmt).save(path)


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
    executor-parallel batched inserts. Returns (Spark save mode, options).

    ``column_types`` maps columns to target DDL types for auto
    CREATE TABLE — the reference's ensure_table_exists / DDL-generation
    path (core/loaders/sqlserver.py:83-239, e.g. preserving varchar(n) and
    decimal(p,s) from a source schema) expressed as Spark's
    ``createTableColumnTypes`` option."""
    save_mode = spark_mode(mode, BASIC_MODES)
    opts = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    if mode == "replace":
        # DELETE-not-DROP parity: truncate preserves the target's DDL.
        opts["truncate"] = "true"
    if column_types:
        opts["createTableColumnTypes"] = ", ".join(
            f"{c} {t}" for c, t in column_types.items()
        )
    opts.update(extra)
    return save_mode, opts


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
    save_mode, opts = jdbc_write_options(**kwargs)
    df.write.format("jdbc").options(**opts).mode(save_mode).save()
