"""Catalog, sanitize, sink-mode, and SQL-pushdown queries — the engine-side
versions of the reference's implemented operator surface (SURVEY.md §2.A).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import (
    FK_GRAPH,
    TABLES,
    list_tables,
    load_table,
    register_views,
)
from etl_open_source_spark.functions.numeric import dsum, sql_dsum, sql_dsum_finite
from etl_open_source_spark.plans.sanitize import sanitize_nulls
from etl_open_source_spark.queries.scans import _tmp  # shared sf-scoped temp dirs
from etl_open_source_spark.registry import query
from etl_open_source_spark.sources.readers import read_parquet
from etl_open_source_spark.sources.writers import write_files



# Spark simpleString → ANSI/DuckDB type name (for catalog parity output)
_TYPE_MAP = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "array<float>": "FLOAT[]",
}


@query(
    "q_catalog_list_tables",
    oracle=f"""
SELECT table_name
FROM information_schema.tables
WHERE table_name IN ({", ".join(f"'{t}'" for t in TABLES)})
ORDER BY table_name
""",
    tags=("catalog",),
)
def q_catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog table listing — parity with the reference's
    INFORMATION_SCHEMA.TABLES enumeration (core/extractors/sqlserver.py:95-112),
    against Spark's own catalog after registering the fixture views."""
    register_views(spark, sf_dir)
    names = [n for n in list_tables(spark) if n in TABLES]
    return spark.createDataFrame([(n,) for n in names], "table_name string")


@query(
    "q_catalog_table_schema",
    oracle="""
SELECT column_name, data_type, is_nullable
FROM information_schema.columns
WHERE table_name = 'lineitem'
ORDER BY column_name
""",
    tags=("catalog",),
)
def q_catalog_table_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One table's schema from the parquet footer — parity with
    get_table_schema (core/extractors/sqlserver.py:60-90), with type names
    normalized to the ANSI spellings the oracle's catalog reports."""
    schema = load_table(spark, sf_dir, "lineitem").schema
    rows = [
        (
            f.name,
            _TYPE_MAP.get(f.dataType.simpleString(), f.dataType.simpleString().upper()),
            "YES" if f.nullable else "NO",
        )
        for f in schema.fields
    ]
    return spark.createDataFrame(
        rows, "column_name string, data_type string, is_nullable string"
    ).orderBy("column_name")


@query(
    "q_catalog_list_columns",
    oracle=f"""
SELECT table_name, column_name, data_type
FROM information_schema.columns
WHERE table_name IN ({", ".join(f"'{t}'" for t in ("orders", "customer", "nation", "region"))})
ORDER BY table_name, column_name
""",
    tags=("catalog",),
)
def q_catalog_list_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All columns across tables — parity with list_columns
    (core/extractors/sqlserver.py:117-150)."""
    rows = []
    for t in ("orders", "customer", "nation", "region"):
        for f in load_table(spark, sf_dir, t).schema.fields:
            rows.append(
                (t, f.name, _TYPE_MAP.get(f.dataType.simpleString(), f.dataType.simpleString().upper()))
            )
    return spark.createDataFrame(
        rows, "table_name string, column_name string, data_type string"
    ).orderBy("table_name", "column_name")


@query(
    "q_catalog_fk_graph",
    oracle="""
SELECT * FROM (VALUES
  ('lineitem', 'l_orderkey', 'orders', 'o_orderkey'),
  ('lineitem', 'l_partkey', 'part', 'p_partkey'),
  ('lineitem', 'l_suppkey', 'supplier', 's_suppkey'),
  ('orders', 'o_custkey', 'customer', 'c_custkey'),
  ('customer', 'c_nationkey', 'nation', 'n_nationkey'),
  ('supplier', 's_nationkey', 'nation', 'n_nationkey'),
  ('nation', 'n_regionkey', 'region', 'r_regionkey')
) AS t(table_name, column_name, ref_table, ref_column)
""",
    tags=("catalog",),
)
def q_catalog_fk_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK relation graph — the engine-side manifest replacing the
    reference's sys.foreign_keys 5-way join (core/extractors/sqlserver.py:155-198);
    parquet has no FK metadata, so the graph is declared (catalog.FK_GRAPH)
    and used by tests/join planning."""
    rows = [(r["table"], r["column"], r["ref_table"], r["ref_column"]) for r in FK_GRAPH]
    return spark.createDataFrame(
        rows, "table_name string, column_name string, ref_table string, ref_column string"
    )


@query(
    "q_sanitize_nulls",
    oracle="""
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderstatus, 'O'), '') AS o_status_clean,
       COALESCE(DATE_TRUNC('second', CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END),
                TIMESTAMP '1900-01-01 00:00:00') AS o_date_clean,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END AS o_price_kept
FROM orders
""",
    tags=("sanitize",),
)
def q_sanitize_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed null-sanitize parity with reference core/utils.py:6-15:
    string NULL → '', timestamp NULL → 1900-01-01, timestamps truncated to
    seconds; numeric NULLs KEPT (documented divergence — the reference
    writes '' into numeric cells, untypable here). Nulls are manufactured
    from the fixture (it has none physically)."""
    o = load_table(spark, sf_dir, "orders")
    dirty = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("o_status_clean"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("timestamp"))
        .otherwise(F.col("o_orderdate"))
        .alias("o_date_clean"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("o_totalprice"))
        .alias("o_price_kept"),
    )
    return sanitize_nulls(dirty)


@query(
    "q_sink_append",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
""",
    tags=("sink",),
)
def q_sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode load semantics (reference core/loaders/sqlserver.py:244-288):
    replace-write once, append once → exactly two copies on re-read."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey", "o_totalprice")
    )
    path = _tmp(sf_dir, "append_sink")
    write_files(src, path, "parquet", "replace")
    write_files(src, path, "parquet", "append")
    return read_parquet(spark, path)


@query(
    "q_sink_replace",
    oracle="SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'",
    tags=("sink",),
)
def q_sink_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace-mode load semantics (reference DELETE-then-insert,
    core/loaders/sqlserver.py:264-269): write twice with replace → exactly
    one copy (idempotent)."""
    src = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select("o_orderkey", "o_totalprice")
    )
    path = _tmp(sf_dir, "replace_sink")
    write_files(src, path, "parquet", "replace")
    write_files(src, path, "parquet", "replace")
    return read_parquet(spark, path)


@query(
    "q_merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderstatus = 'P'
)
SELECT * FROM updates
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
""",
    tags=("sink", "merge"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (operators/merge.py): pending orders get status 'X' and
    a 10% price bump; everything else survives untouched. Round-trips
    through a parquet snapshot so the full write path is exercised.
    (The bump runs in exact decimal, not round(x*1.1, 2): Spark rounds the
    double's shortest-decimal repr while DuckDB rounds its exact binary
    value, so half-cent ties split between engines.)"""
    from etl_open_source_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderstatus") == "P").withColumns(
        {
            "o_orderstatus": F.lit("X"),
            "o_totalprice": (
                F.col("o_totalprice").cast("decimal(12,2)")
                * F.lit("1.1").cast("decimal(2,1)")
            ).cast("double"),
        }
    )
    merged = merge_upsert(o, updates, ["o_orderkey"])
    path = _tmp(sf_dir, "merge_sink")
    write_files(merged, path, "parquet", "replace")
    return read_parquet(spark, path)


_PUSHDOWN_SQL = f"""
SELECT c.c_mktsegment,
       n.n_name,
       COUNT(*) AS order_cnt,
       {sql_dsum('o.o_totalprice')} AS revenue
FROM {{orders}} o
JOIN {{customer}} c ON o.o_custkey = c.c_custkey
JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY c.c_mktsegment, n.n_name
ORDER BY revenue DESC, c.c_mktsegment, n.n_name
LIMIT 20
"""

# The engine binds each {table} to a DataFrame (spark.sql kwargs); the
# oracle reads the same text over its tables of those names.
_PUSHDOWN_TABLES = ("orders", "customer", "nation")
_PUSHDOWN_TEXT = _PUSHDOWN_SQL.format(**{t: t for t in _PUSHDOWN_TABLES})

# Oracle twin: identical except the decimal fold carries the ISFINITE
# guard (NaN-axis r11). The ENGINE string stays pure ANSI — Spark's
# ANSI cast already NULLs non-finite by mechanism, so a per-row guard
# there would only re-buy existing semantics at bench cost (measured
# ~1.2x on this query when the guard rode along in the engine SQL).
_PUSHDOWN_ORACLE = _PUSHDOWN_TEXT.replace(
    sql_dsum("o.o_totalprice"), sql_dsum_finite("o.o_totalprice")
)
# The replace must actually have fired: if _PUSHDOWN_SQL is ever edited so
# the sql_dsum fragment no longer matches byte-for-byte, a silent no-op
# here would drop the oracle's ISFINITE guard and reintroduce the DuckDB
# non-finite decimal-cast crash (ADVICE r11).
assert _PUSHDOWN_ORACLE != _PUSHDOWN_TEXT, (
    "q_sql_transform oracle twin: sql_dsum fragment not found in "
    "_PUSHDOWN_SQL — the ISFINITE substitution silently no-opped"
)


@query("q_sql_transform", oracle=_PUSHDOWN_ORACLE, bench=True, tags=("sql",))
def q_sql_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-SQL execution — THE reference capability (a user SQL string
    pushed to the source DBMS, core/extractors/sqlserver.py:46-55, and the
    stubbed sql_transformer). Here the engine itself evaluates the same
    ANSI SQL via Spark SQL over the three tables it reads, bound as
    DataFrames for the call (no session views). (The DuckDB
    oracle twin differs only by an ISFINITE guard inside the decimal
    fold — DuckDB's integer-backed cast hard-errors on non-finite where
    Spark's ANSI cast NULLs them by mechanism; NaN-axis r11.)"""
    return spark.sql(
        _PUSHDOWN_SQL, **{t: load_table(spark, sf_dir, t) for t in _PUSHDOWN_TABLES}
    )
