"""Connector table — the one dispatch on connection type or file format.

Each type a pipeline can name has one :class:`Connector` in
:data:`CONNECTORS`. The runner's extract and load, ``test_connection`` and
``validate_spec`` all look the type up there, so a type is supported by
run, test-connection and validate alike, or by none of them.
``test_connection`` keeps the reference's contract (services/
connection_service.py:20-40: returns (ok, message), never raises).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from etl_open_source_spark.plans.models import ConnectionConfig, PipelineSpec, Step
from etl_open_source_spark.sources import readers as R
from etl_open_source_spark.sources import writers as W
from etl_open_source_spark.sources.formats import BASIC_MODES, file_format

Reader = Callable[[SparkSession, ConnectionConfig, dict], DataFrame]  # (spark, conn, step cfg)
Writer = Callable[[DataFrame, ConnectionConfig, dict], None]  # (data, conn, step cfg)


@dataclass(frozen=True)
class Connector:
    params: tuple[str, ...]  # connection params every use needs
    # JDBC family only: connection params -> JDBC options (url, driver, ...)
    jdbc: Callable[[dict], dict[str, str]] | None
    extract_keys: tuple[str, ...]  # an extract step names one of these
    read: Reader
    write: Writer | None  # None: extract-only
    modes: frozenset[str] = BASIC_MODES  # load modes
    partitioned: bool = False  # a load takes partition_by (sources/formats.py)

    def missing(self, params: dict) -> list[str]:
        return [k for k in self.params if not params.get(k)]


def _file(fmt: str) -> Connector:
    """A file format. Extract: a 'query' runs on Spark SQL over the
    registered catalog (no DBMS sits behind a file connection); else
    'table' or 'path' names the files, and step config overrides
    connection params, one precedence for every option. Load:
    "repartition": N sizes the output to N even files — the spec-level
    answer to the small-files problem (cf. maintenance.compact_parquet)."""
    spec = file_format(fmt)

    def extract(spark: SparkSession, conn: ConnectionConfig, cfg: dict) -> DataFrame:
        if "query" in cfg:
            return spark.sql(cfg["query"])
        path = cfg.get("table") or cfg.get("path")
        if not path:
            raise ValueError(f"{conn.type} source needs a 'table' or 'path'")
        o = {**conn.params, **cfg}
        # foreign-file dialect unless the plan opts into "engine" (ADVICE r8)
        return R.read_files(spark, path, fmt, schema=o.get("schema"),
                            dialect=o.get("dialect", "foreign"))

    def load(data: DataFrame, conn: ConnectionConfig, cfg: dict) -> None:
        if cfg.get("repartition"):
            data = data.repartition(int(cfg["repartition"]))
        W.write_files(data, cfg["path"], fmt, cfg.get("mode", "append"), cfg.get("partition_by"))

    return Connector((), None, ("query", "table", "path"), extract, load, spec.modes,
                     spec.partitioned)


def _dialect_options(dialect: str, params: dict) -> dict[str, str]:
    """The reference's per-DBMS connection-string builder (core/extractors/
    sqlserver.py:28-41) over host/database/port/user/password."""
    port = params.pop("port", None)
    return R.dialect_jdbc_options(
        dialect, params.pop("host"), params.pop("database"),
        port=int(port) if port is not None else None,
        user=params.pop("user", None), password=params.pop("password", None), **params,
    )


def _read_jdbc(spark: SparkSession, conn: ConnectionConfig, cfg: dict) -> DataFrame:
    """A live DBMS source: 'query' pushes SQL to the source engine (reference
    core/extractors/sqlserver.py:46-55); 'table' reads a table, optionally
    as a partitioned parallel extract. Live-tested against embedded Derby."""
    opts = jdbc_connection_options(conn)
    url = opts.pop("url")
    if "query" in cfg:
        opts = R.jdbc_query_options(url, cfg["query"], **opts)
        return spark.read.format("jdbc").options(**opts).load()
    part_keys = ("partition_column", "lower_bound", "upper_bound", "num_partitions")
    part = {k: cfg[k] for k in part_keys if k in cfg}
    return R.read_jdbc(spark, url=url, table=cfg["table"], **part, **opts)


def _write_jdbc(data: DataFrame, conn: ConnectionConfig, cfg: dict) -> None:
    """Executor-parallel batched insert with optional auto-DDL (replaces the
    reference's per-row INSERT loop, core/loaders/sqlserver.py:282-286)."""
    opts = jdbc_connection_options(conn)
    W.write_jdbc(data, url=opts.pop("url"), table=cfg["table"], mode=cfg.get("mode", "append"),
                 column_types=cfg.get("column_types"), **opts)


def _read_mongo(spark: SparkSession, conn: ConnectionConfig, cfg: dict) -> DataFrame:
    """The params name the collection; needs the connector jar + a server."""
    p = dict(conn.params)
    opts = R.mongo_read_options(p.pop("uri"), p.pop("database"), p.pop("collection"), **p)
    return spark.read.format("mongodb").options(**opts).load()


_JDBC_KEYS = ("query", "table")

CONNECTORS: dict[str, Connector] = {
    **{fmt: _file(fmt) for fmt in ("parquet", "csv", "json")},
    # raw jdbc: params (with 'url') are the options
    "jdbc": Connector(("url",), dict, _JDBC_KEYS, _read_jdbc, _write_jdbc),
    **{
        d: Connector(("host", "database"), partial(_dialect_options, d), _JDBC_KEYS,
                     _read_jdbc, _write_jdbc)
        for d in R._JDBC_DIALECTS  # sqlserver, postgres, mysql
    },
    "mongo": Connector(("uri", "database", "collection"), None, (), _read_mongo, None),
}


def connector(type_name: str | None) -> Connector | None:
    """The entry for a connection type or format, any case; None if unsupported."""
    return CONNECTORS.get((type_name or "").lower())


def step_connector(spec: PipelineSpec, step: Step) -> tuple[ConnectionConfig, Connector | None]:
    """The step's connection — or, without one, a param-less connection of
    the step's ``format`` (default parquet) — and its entry."""
    conn = spec.connection(step.connection_id) or ConnectionConfig(
        id="", name="", type=step.config.get("format", "parquet"))
    return conn, connector(conn.type)


def jdbc_connection_options(conn: ConnectionConfig) -> dict[str, str]:
    """JDBC reader/writer options of a JDBC-family connection."""
    entry = connector(conn.type)
    if entry is None or entry.jdbc is None:
        raise ValueError(f"not a JDBC-family connection: {conn.type!r}")
    if missing := entry.missing(conn.params):
        raise ValueError(f"{conn.type} connection needs params{missing}")
    params = dict(conn.params)
    params.pop("probe_query", None)  # test_connection's, not a JDBC option
    return entry.jdbc(params)


def test_connection(spark: SparkSession, conn: ConnectionConfig) -> tuple[bool, str]:
    """A minimal read through the connection; returns (ok, message)."""
    entry = connector(conn.type)
    if entry is None:
        return False, f"unsupported connection type: {conn.type!r}"
    if missing := entry.missing(conn.params):
        return False, f"{conn.type} connection needs params{missing}"
    try:
        if entry.jdbc is not None:
            # Derby (live-tested here) rejects SELECT without FROM, and Spark
            # wraps the query in a subselect, so probe its dummy table;
            # params['probe_query'] overrides for other engines
            probe = conn.params.get("probe_query") or (
                "SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1"
                if conn.params.get("url", "").startswith("jdbc:derby") else "SELECT 1")
            entry.read(spark, conn, {"query": probe}).collect()
        else:  # schema probe; files are named by params['path']
            entry.read(spark, conn, conn.params).schema
        return True, "connection ok"
    except Exception as ex:  # noqa: BLE001 — contract returns, never raises
        return False, f"connection failed: {ex}"
