"""Readers — the engine's extractor surface.

Replaces the reference's extractors (the one implemented SQL Server extractor
at core/extractors/sqlserver.py:46-55 plus the declared-but-stubbed
postgres/mysql/oracle/mongo/csv extractors, SURVEY §2.B): each becomes a
`spark.read` call that is *distributed and pushdown-aware* instead of a
single-threaded `pd.read_sql` full materialization.
"""

from __future__ import annotations

import os
import stat as _stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# (abspath, mtime_ns, size) -> (nanos_cols, inferred raw StructType).
# Spark runs a one-task JOB per parquet read just to infer the schema from
# footers (plus our own pyarrow TIMESTAMP(NANOS) probe opens the footer a
# second time on the driver): for the fixture tables that is pure per-query
# overhead — a bench pass issues ~35 load_table calls per rep, each paying
# ~50-150 ms of driver+job latency for a schema that never changes. Caching
# the footer metadata and passing the schema explicitly skips both (guide
# §5: the driver should do almost no data work; §6: metadata caching).
# Keyed on mtime_ns+size so a rewritten file re-probes; REGULAR FILES ONLY —
# a directory can gain part files (appends, partition overwrites) without
# its top-level mtime changing, so directory reads always re-infer.
_FOOTER_CACHE: dict[tuple[str, int, int], tuple[list[str], StructType]] = {}


def _footer_cache_key(path: str) -> tuple[str, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not _stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized
    reader rejects those outright, so they need the nanosAsLong escape
    hatch. Directories are probed through their first part file (all
    parts share a schema): without that, a directory of ns-timestamp
    files read after a single-file read had set the session's
    nanosAsLong conf would skip the µs conversion and silently surface
    raw int64 nanos. Returns [] only when no footer is readable."""
    import os

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        probe = path
        if os.path.isdir(path):
            parts = sorted(
                os.path.join(d, f)
                for d, _, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
            if not parts:
                return []
            probe = parts[0]
        # The PARQUET logical type, not Arrow's mapping: Spark's default
        # INT96 timestamps surface as timestamp[ns] in Arrow, which would
        # false-positive every Spark-written file — only INT64 columns
        # logically annotated TIMESTAMP(NANOS) need the escape hatch.
        del pa  # noqa: F841 — arrow-level schema deliberately unused
        sch = pq.ParquetFile(probe).schema
        return [
            sch.column(i).name
            for i in range(len(sch))
            if sch.column(i).physical_type == "INT64"
            and "timeUnit=nanoseconds" in str(sch.column(i).logical_type)
        ]
    except Exception:
        return []


def read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Columnar scan with predicate pushdown + column pruning for free.

    ``schema`` (StructType or DDL string) skips inference — REQUIRED to
    read a partitioned dataset that may be empty: Spark writes no part
    files at all for an empty partitioned frame, so schema inference on
    the bare directory raises UNABLE_TO_INFER_SCHEMA; with an explicit
    schema the same directory reads as a valid empty frame (the
    empty-daily-partition case every scheduled pipeline eventually hits).

    Nanosecond-timestamp columns are read as int64 nanos and floor-divided
    to microsecond timestamps (matching how DuckDB truncates ns→µs) —
    without this, Spark rejects TIMESTAMP(NANOS) parquet outright."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    key = _footer_cache_key(path)
    cached = _FOOTER_CACHE.get(key) if key is not None else None
    if cached is not None:
        ns_cols, raw_schema = cached
    else:
        ns_cols = nanos_timestamp_columns(path)
        raw_schema = None
    if not ns_cols:
        if raw_schema is not None:
            return spark.read.schema(raw_schema).parquet(path)
        df = spark.read.parquet(path)
        if key is not None:
            _FOOTER_CACHE[key] = ([], df.schema)
        return df
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if raw_schema is not None:
        df = spark.read.schema(raw_schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _FOOTER_CACHE[key] = (ns_cols, df.schema)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan — same predicate-pushdown/column-pruning contract as
    parquet (Spark's OrcFileFormat is a first-class columnar source).
    ``schema`` skips inference, exactly as in :func:`read_parquet` — an
    empty partitioned write leaves no ORC files, and inference on the
    bare directory raises UNABLE_TO_INFER_SCHEMA."""
    if schema is not None:
        return spark.read.schema(schema).orc(path)
    return spark.read.orc(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    dialect: str = "foreign",
    **options: str,
) -> DataFrame:
    """CSV scan. Always pass an explicit schema in production — schema
    inference is an extra full pass over 100 TB.

    Two NULL dialects (ADVICE r8 — the \\N default must not leak onto
    foreign files):

    - ``dialect="foreign"`` (default): bare empty field reads as NULL —
      the convention of most external CSV writers. This is what the
      generic plan runner (plans/runner.py) gets for user-supplied files.
    - ``dialect="engine"``: NULL token is ``\\N`` to match
      :func:`~etl_open_source_spark.sources.writers.write_csv` (lossless
      NULL-vs-'' round trip — Spark's bare-empty default conflates them).
      Use for files this engine wrote.

    An explicit ``nullValue`` in ``options`` overrides either dialect."""
    if dialect not in ("foreign", "engine"):
        raise ValueError(f"dialect must be 'foreign' or 'engine', got {dialect!r}")
    if dialect == "engine":
        options.setdefault("nullValue", "\\N")
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """JSON-lines scan (one object per line — splittable, parallel)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    row_tag: str = "row",
    ignore_surrounding_spaces: bool = True,
) -> DataFrame:
    """XML scan (Spark-4 built-in). Explicit schema in production — XML
    inference is an extra full parse pass, worse than JSON's.

    ``ignore_surrounding_spaces``: Spark's default (True) TRIMS leading/
    trailing whitespace inside element text — right for foreign
    pretty-printed XML (``<tag>\\n  value\\n</tag>``), but it mutates
    values: ``' lead'`` → ``'lead'`` and an all-whitespace value →
    ``''``. Engine round-trips pass False — the engine writer never
    pads element text, so False reads back the exact bytes written
    (the XML arm of the ''/whitespace representation class, VERDICT r8
    item 4; same dialect split as read_csv's foreign-vs-engine)."""
    reader = spark.read.option("rowTag", row_tag).option(
        "ignoreSurroundingSpaces", str(ignore_surrounding_spaces).lower()
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format("xml").load(path)


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    **extra: str,
) -> dict[str, str]:
    """Build the option dict for a *partitioned* JDBC read.

    This is the scale replacement for the reference's single-connection
    `pd.read_sql` extract (core/extractors/sqlserver.py:39-41,52-53): N
    executors each pull one stride of ``partition_column`` concurrently.
    Kept as a pure function so the plumbing is unit-testable without a live
    DBMS (the harness has none).
    """
    opts: dict[str, str] = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError("partitioned JDBC read needs lower/upper bound and num_partitions")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(extra)
    return opts


def read_jdbc(spark: SparkSession, **kwargs) -> DataFrame:
    """Apply ``jdbc_read_options`` to a real reader.

    Live-tested against Spark's bundled embedded Derby driver
    (tests/test_jdbc_live.py): round-trip, partitioned parallel read, and
    predicate pushdown all exercise the real JDBC relation — network
    DBMSes swap in via ``dialect_jdbc_options`` URL/driver options."""
    return spark.read.format("jdbc").options(**jdbc_read_options(**kwargs)).load()


def jdbc_query_options(url: str, query: str, **extra: str) -> dict[str, str]:
    """Arbitrary-SQL pushdown — parity with the reference's core capability
    (user-supplied SQL string executed by the source DBMS,
    core/extractors/sqlserver.py:46-55)."""
    return {"url": url, "query": query, **extra}


# Per-dialect URL shapes + driver classes — the Spark-side analog of the
# reference's ODBC connection-string builder (core/extractors/
# sqlserver.py:28-41: host, port-with-default, database, user, password)
# extended to the dialects the reference declares but stubs (postgres/
# mysql extractors, SURVEY §2.B).
_JDBC_DIALECTS: dict[str, tuple[str, int, str]] = {
    "sqlserver": (
        "jdbc:sqlserver://{host}:{port};databaseName={database}",
        1433,
        "com.microsoft.sqlserver.jdbc.SQLServerDriver",
    ),
    "postgres": (
        "jdbc:postgresql://{host}:{port}/{database}",
        5432,
        "org.postgresql.Driver",
    ),
    "mysql": (
        "jdbc:mysql://{host}:{port}/{database}",
        3306,
        "com.mysql.cj.jdbc.Driver",
    ),
}


def dialect_jdbc_options(
    dialect: str,
    host: str,
    database: str,
    port: int | None = None,
    user: str | None = None,
    password: str | None = None,
    **extra: str,
) -> dict[str, str]:
    """URL + driver-class + credential options for a named DBMS dialect,
    ready to merge into ``jdbc_read_options``/``jdbc_query_options``.
    Credentials ride as separate options (not URL-embedded) so URLs are
    loggable."""
    if dialect not in _JDBC_DIALECTS:
        raise ValueError(
            f"unknown JDBC dialect {dialect!r}; supported: {sorted(_JDBC_DIALECTS)}"
        )
    template, default_port, driver_class = _JDBC_DIALECTS[dialect]
    opts = {
        "url": template.format(host=host, port=port or default_port, database=database),
        "driver": driver_class,
    }
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    opts.update(extra)
    return opts


def mongo_read_options(
    uri: str,
    database: str,
    collection: str,
    pipeline: list[dict] | str | None = None,
    **extra: str,
) -> dict[str, str]:
    """Options for the Spark MongoDB connector (format ``mongodb``) —
    closes the reference's declared-but-stubbed Mongo extractor
    (core/extractors/mongo.py, README "à venir"). ``pipeline`` is an
    aggregation pipeline pushed down to the server (list → JSON)."""
    import json

    opts = {"connection.uri": uri, "database": database, "collection": collection}
    if pipeline is not None:
        opts["aggregation.pipeline"] = (
            pipeline if isinstance(pipeline, str) else json.dumps(pipeline)
        )
    opts.update(extra)
    return opts
