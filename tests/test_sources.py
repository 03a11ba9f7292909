"""Unit tests for source/sink plumbing that the harness can't run live
(JDBC — no DBMS in the container): option builders, DDL derivation,
connection probe contract.
"""

from __future__ import annotations

import pytest

from etl_open_source_spark.plans.connections import test_connection as probe_connection
from etl_open_source_spark.plans.models import ConnectionConfig
from etl_open_source_spark.sources.readers import jdbc_query_options, jdbc_read_options
from etl_open_source_spark.sources.writers import (
    ddl_column_types,
    jdbc_write_options,
)


def test_jdbc_partitioned_read_options():
    opts = jdbc_read_options(
        url="jdbc:postgresql://host/db",
        table="public.lineitem",
        partition_column="l_orderkey",
        lower_bound=0,
        upper_bound=6_000_000,
        num_partitions=64,
    )
    assert opts["partitionColumn"] == "l_orderkey"
    assert opts["numPartitions"] == "64"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "6000000"
    assert opts["fetchsize"] == "10000"


def test_jdbc_partitioned_read_requires_bounds():
    with pytest.raises(ValueError):
        jdbc_read_options(url="jdbc:x", table="t", partition_column="k")


def test_jdbc_query_pushdown_options():
    opts = jdbc_query_options("jdbc:x", "SELECT a, b FROM t WHERE a > 1")
    assert opts["query"].startswith("SELECT")


def test_jdbc_write_replace_preserves_ddl():
    mode, opts = jdbc_write_options("jdbc:x", "dbo.target", mode="replace")
    assert mode == "overwrite"
    assert opts["truncate"] == "true"  # DELETE-not-DROP parity
    mode, opts = jdbc_write_options("jdbc:x", "dbo.target", mode="append")
    assert mode == "append" and "truncate" not in opts


def test_jdbc_write_rejects_bad_mode():
    with pytest.raises(ValueError):
        jdbc_write_options("jdbc:x", "t", mode="upsert")


def test_jdbc_auto_ddl_column_types(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    types = ddl_column_types(df)
    assert types["l_orderkey"] == "BIGINT"  # int64 stays 64-bit (divergence
    # from the reference's int64→INT narrowing, SURVEY §1.3)
    assert types["l_linenumber"] == "INTEGER"
    assert types["l_quantity"] == "DOUBLE PRECISION"
    assert types["l_returnflag"].startswith("VARCHAR")
    _, opts = jdbc_write_options("jdbc:x", "t", mode="append", column_types=types)
    assert "l_orderkey BIGINT" in opts["createTableColumnTypes"]


def test_connection_probe_parquet_ok(spark, sf_dir):
    ok, msg = probe_connection(
        spark,
        ConnectionConfig(id="c1", name="fx", type="parquet", params={"path": f"{sf_dir}/orders.parquet"}),
    )
    assert ok, msg


def test_connection_probe_failures(spark):
    ok, msg = probe_connection(
        spark, ConnectionConfig(id="c2", name="bad", type="parquet", params={"path": "/nope"})
    )
    assert not ok and "failed" in msg
    ok, msg = probe_connection(
        spark, ConnectionConfig(id="c3", name="bad", type="ftp", params={})
    )
    assert not ok and "unsupported" in msg
    ok, msg = probe_connection(
        spark, ConnectionConfig(id="c4", name="bad", type="jdbc", params={})
    )
    assert not ok and "url" in msg
    ok, msg = probe_connection(
        spark, ConnectionConfig(id="c5", name="bad", type="mongo", params={})
    )
    assert not ok and "uri" in msg
    ok, msg = probe_connection(
        spark, ConnectionConfig(id="c6", name="bad", type="postgres", params={"host": "h"})
    )
    assert not ok and "database" in msg


def test_dialect_jdbc_options():
    from etl_open_source_spark.sources.readers import dialect_jdbc_options

    opts = dialect_jdbc_options(
        "sqlserver", "db.corp", "sales", user="u", password="p"
    )
    assert opts["url"] == "jdbc:sqlserver://db.corp:1433;databaseName=sales"
    assert opts["driver"] == "com.microsoft.sqlserver.jdbc.SQLServerDriver"
    assert opts["user"] == "u" and opts["password"] == "p"

    opts = dialect_jdbc_options("postgres", "pg", "app", port=5544)
    assert opts["url"] == "jdbc:postgresql://pg:5544/app"
    assert opts["driver"] == "org.postgresql.Driver"
    assert "user" not in opts  # optional credentials stay absent

    opts = dialect_jdbc_options("mysql", "my", "app")
    assert opts["url"] == "jdbc:mysql://my:3306/app"

    with pytest.raises(ValueError, match="unknown JDBC dialect"):
        dialect_jdbc_options("oracle", "h", "d")


def test_dialect_connection_builds_jdbc_options():
    from etl_open_source_spark.plans.connections import jdbc_connection_options

    opts = jdbc_connection_options(
        ConnectionConfig(
            id="c7",
            name="pg",
            type="postgres",
            params={"host": "pg", "database": "app", "port": "5544",
                    "user": "u", "password": "p", "fetchsize": "500"},
        )
    )
    assert opts["url"] == "jdbc:postgresql://pg:5544/app"
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["fetchsize"] == "500"  # extra params pass through


def test_mongo_read_options():
    from etl_open_source_spark.sources.readers import mongo_read_options

    opts = mongo_read_options("mongodb://h:27017", "app", "events")
    assert opts == {
        "connection.uri": "mongodb://h:27017",
        "database": "app",
        "collection": "events",
    }
    opts = mongo_read_options(
        "mongodb://h", "app", "events",
        pipeline=[{"$match": {"kind": "view"}}],
    )
    assert opts["aggregation.pipeline"] == '[{"$match": {"kind": "view"}}]'


def test_load_table_from_foreign_session(spark, sf_dir):
    """load_table must work from a session NOT built by get_spark().

    Spark 4.1 validates the default passed to ``conf.get`` for
    ``spark.sql.session.timeZone`` — an empty-string fallback raises
    INVALID_CONF_VALUE.TIME_ZONE when the conf is unset, which used to crash
    load_table for any externally-built session (the driver's entry path).
    Simulate that by unsetting the conf on a sibling session.
    """
    from etl_open_source_spark.catalog import load_table

    foreign = spark.newSession()
    try:
        foreign.conf.unset("spark.sql.session.timeZone")
    except Exception:
        pass  # already unset / not unsettable — the call below is the test
    df = load_table(foreign, sf_dir, "region")
    assert df.count() == 5
    # load_table must have pinned the session back to UTC for oracle parity.
    assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"


def test_binaryfile_reader(spark, tmp_path):
    """spark.read.format('binaryFile') — opaque media ingestion: whole
    files as (path, length, content) rows, the entry point for the
    multimodal operators (operators/multimodal.py)."""
    import os

    payloads = {f"f{i}.bin": bytes([i]) * (10 + i) for i in range(3)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    df = spark.read.format("binaryFile").load(str(tmp_path))
    rows = {os.path.basename(r.path): (r.length, bytes(r.content)) for r in df.collect()}
    assert set(rows) == set(payloads)
    for name, data in payloads.items():
        assert rows[name] == (len(data), data)


def test_connection_probe_derby_live(spark):
    """The probe must succeed against embedded Derby — the engine every
    JDBC path in this repo is live-tested on. Derby rejects 'SELECT 1'
    (no FROM-less SELECT), so the probe uses VALUES 1 for derby URLs; a
    healthy connection reporting failure is the one bug a connectivity
    probe must not have."""
    from etl_open_source_spark.plans.models import ConnectionConfig

    ok, msg = probe_connection(
        spark,
        ConnectionConfig(
            id="d", name="derby", type="jdbc",
            params={"url": "jdbc:derby:memory:probe_db;create=true"},
        ),
    )
    assert ok, msg


def test_nanos_probe_handles_directories(spark, tmp_path):
    """A DIRECTORY of ns-timestamp parquet files must convert to µs
    timestamps exactly like a single file: previously the probe returned
    [] for directories, and once an earlier read had set the session's
    nanosAsLong conf, a directory read surfaced raw int64 nanos
    silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_open_source_spark.sources.readers import (
        nanos_timestamp_columns,
        read_parquet,
    )

    tbl = pa.table(
        {"id": [1, 2], "ts": pa.array([1_700_000_000_000_000_000,
                                       1_700_000_001_000_000_000],
                                      type=pa.timestamp("ns"))}
    )
    d = tmp_path / "nsdir"
    d.mkdir()
    pq.write_table(tbl, str(d / "part-0.parquet"))
    pq.write_table(tbl, str(d / "part-1.parquet"))
    assert nanos_timestamp_columns(str(d)) == ["ts"]
    df = read_parquet(spark, str(d))
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.count() == 4


def test_runner_dialect_extract_goes_to_jdbc_not_catalog(spark, tmp_path):
    """A 'postgres'-typed connection with a 'query' must route through the
    JDBC reader (failing loudly without a server/driver), NEVER silently
    execute the SQL against Spark's local catalog — that returned
    same-named catalog tables' data as if it came from the DBMS."""
    import pytest as _pytest

    from etl_open_source_spark.plans.models import (
        ConnectionConfig,
        PipelineSpec,
        Step,
        StepType,
    )
    from etl_open_source_spark.plans.runner import PipelineRunner

    # a catalog view with the same name the query targets — the bug's
    # silent path would happily read THIS
    spark.range(3).createOrReplaceTempView("customers")
    spec = PipelineSpec(
        id="pg1", name="pg", cron="*/5 * * * *",
        connections=[ConnectionConfig(
            id="pg", name="pg", type="postgres",
            params={"host": "db.internal", "database": "crm"},
        )],
        steps=[
            Step(id="s1", name="x", step_type=StepType.EXTRACT, order=1,
                 connection_id="pg", config={"query": "SELECT * FROM customers"}),
            Step(id="s2", name="l", step_type=StepType.LOAD, order=2,
                 config={"path": str(tmp_path / "out"), "mode": "replace"}),
        ],
    )
    with _pytest.raises(Exception):  # no driver/server — loud, not silent
        PipelineRunner(spark).run(spec)


def test_xml_write_read_append(spark, tmp_path):
    """Spark-4 built-in XML source: replace then append, explicit-schema
    re-read sees both batches; bad mode fails loudly."""
    import pytest as _pytest

    from etl_open_source_spark.sources.readers import read_files
    from etl_open_source_spark.sources.writers import write_files

    p = str(tmp_path / "xml_sink")
    df1 = spark.createDataFrame([(1, "a")], "id bigint, s string")
    df2 = spark.createDataFrame([(2, "b")], "id bigint, s string")
    write_files(df1, p, "xml", "replace", rowTag="r")
    write_files(df2, p, "xml", "append", rowTag="r")
    back = read_files(spark, p, "xml", "id bigint, s string", rowTag="r")
    assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]
    with _pytest.raises(ValueError):
        write_files(df1, p, "xml", "truncate")


def test_binary_file_source_glob_and_recursive(spark, tmp_path):
    """binaryFile's scale knobs actually work: pathGlobFilter restricts by
    extension and recursiveFileLookup walks nested shards — the layout a
    raw media corpus lands in (shard dirs of .jpg/.bin blobs)."""
    from pyspark.sql import functions as F

    root = tmp_path / "media"
    (root / "shard=0").mkdir(parents=True)
    (root / "shard=1").mkdir(parents=True)
    (root / "shard=0" / "x.bin").write_bytes(b"\x01\x02")
    (root / "shard=0" / "skip.txt").write_bytes(b"nope")
    (root / "shard=1" / "y.bin").write_bytes(b"\x03\x04\x05")

    got = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .option("recursiveFileLookup", "true")
        .load(str(root))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("name"),
            F.col("length").cast("long").alias("n"),
        )
        .collect()
    )
    assert {(r.name, r.n) for r in got} == {("x.bin", 2), ("y.bin", 3)}


def test_footer_cache_file_reads(spark, sf_dir, tmp_path):
    """r12 optimization: read_parquet caches (nanos_cols, schema) per
    regular file keyed on mtime+size, so repeat reads skip the
    schema-inference job AND the pyarrow footer probe — while a REWRITTEN
    file (new mtime/size) re-probes, and directories are never cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_open_source_spark.sources import readers

    # repeat fixture read: second call must hit the cache and agree exactly
    path = f"{sf_dir}/orders.parquet"
    key = readers._footer_cache_key(path)
    readers._FOOTER_CACHE.pop(key, None)
    df1 = readers.read_parquet(spark, path)
    assert key in readers._FOOTER_CACHE
    df2 = readers.read_parquet(spark, path)
    assert df1.schema == df2.schema
    assert df1.count() == df2.count()

    # rewritten file: schema change must be seen (stale cache would mask it)
    f = str(tmp_path / "evolve.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), f)
    assert readers.read_parquet(spark, f).columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), f
    )
    assert sorted(readers.read_parquet(spark, f).columns) == ["a", "b"]

    # nanos-timestamp fixture still converts to µs timestamps on the HIT path
    epath = f"{sf_dir}/events.parquet"
    ekey = readers._footer_cache_key(epath)
    readers._FOOTER_CACHE.pop(ekey, None)
    miss = readers.read_parquet(spark, epath)
    hit = readers.read_parquet(spark, epath)
    assert miss.schema == hit.schema
    assert [f.dataType.simpleString() for f in miss.schema if f.name == "ts"] == [
        t for t in ["timestamp"]
    ]
    assert miss.select("ts").orderBy("ts").first() == hit.select("ts").orderBy("ts").first()

    # directories are never cached (appends don't bump the dir mtime)
    d = str(tmp_path / "dirsink")
    spark.range(3).write.parquet(d)
    assert readers._footer_cache_key(d) is None
    assert readers.read_parquet(spark, d).count() == 3


def _format_cases():
    from etl_open_source_spark.sources.formats import FORMATS

    return sorted(FORMATS)


@pytest.mark.parametrize("fmt", _format_cases())
def test_engine_dialect_round_trips_every_format(spark, tmp_path, fmt):
    """Every format table entry must read back exactly what write_files
    wrote, in the engine dialect with an explicit schema: NULL, '',
    whitespace-padded and markup/quote/delimiter-bearing strings stay
    distinct. A format that takes partition_by also keeps the documented
    Hive-layout contract: a '' partition key reads back NULL."""
    from etl_open_source_spark.sources.formats import FORMATS
    from etl_open_source_spark.sources.readers import read_files
    from etl_open_source_spark.sources.writers import write_files

    values = [None, "", " ", "  lead", "trail  ", " both ", '<&>,"', "a,b", 'q"q', "plain"]
    keys = [None, "", "x"]
    rows = [(i, v, keys[i % 3]) for i, v in enumerate(values)]
    schema = "id bigint, s string, k string"
    df = spark.createDataFrame(rows, schema)

    path = str(tmp_path / "flat")
    write_files(df, path, fmt, "replace")
    back = read_files(spark, path, fmt, schema, dialect="engine")
    assert sorted(tuple(r) for r in back.collect()) == rows

    if FORMATS[fmt].partitioned:
        path = str(tmp_path / "by_k")
        write_files(df, path, fmt, "replace", partition_by=["k"])
        back = read_files(spark, path, fmt, schema, dialect="engine").select("id", "s", "k")
        assert sorted(tuple(r) for r in back.collect()) == [
            (i, v, None if k == "" else k) for i, v, k in rows
        ]
    else:
        with pytest.raises(ValueError, match="partition_by"):
            write_files(df, str(tmp_path / "by_k"), fmt, "replace", partition_by=["k"])
