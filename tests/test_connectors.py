"""The connector table (plans/connections.py CONNECTORS) is the one
dispatch on connection type and format: run, test-connection and
validate accept the same types, with the same required keys, in any case.
Each test pins a case where those three used to disagree."""

import pytest

from etl_open_source_spark.plans.connections import jdbc_connection_options
from etl_open_source_spark.plans.models import (
    ConnectionConfig,
    PipelineSpec,
    Step,
    StepType,
)
from etl_open_source_spark.plans.runner import PipelineRunner
from etl_open_source_spark.plans.validation import validate_spec

PG = {"host": "db.internal", "database": "crm"}


def _spec(conn: ConnectionConfig, extract: dict, load: dict | None = None,
          load_conn: str | None = None) -> PipelineSpec:
    steps = [Step(id="s1", name="e", step_type=StepType.EXTRACT, order=1,
                  connection_id=conn.id, config=extract)]
    if load is not None:
        steps.append(Step(id="s2", name="l", step_type=StepType.LOAD, order=2,
                          connection_id=load_conn, config=load))
    return PipelineSpec(id="p", name="p", steps=steps, connections=[conn])


def test_dialect_load_validates_on_table_not_path():
    pg = ConnectionConfig(id="pg", name="pg", type="postgres", params=PG)
    ok = _spec(pg, {"query": "SELECT 1"}, {"table": "t", "mode": "append"}, "pg")
    assert validate_spec(ok) == []

    path_only = _spec(pg, {"query": "SELECT 1"}, {"path": "/tmp/out"}, "pg")
    issues = validate_spec(path_only)
    assert any("missing 'table'" in i for i in issues), issues


@pytest.mark.parametrize("fmt", ["parqet", "orc"])
def test_unknown_load_format_rejected(fmt):
    src = ConnectionConfig(id="src", name="src", type="parquet")
    spec = _spec(src, {"path": "/tmp/in"}, {"path": "/tmp/out", "format": fmt})
    issues = validate_spec(spec)
    assert any("unsupported format" in i and fmt in i for i in issues), issues


def test_dialect_connection_without_host_database_rejected():
    bare = ConnectionConfig(id="pg", name="pg", type="postgres", params={"port": "5432"})
    issues = validate_spec(_spec(bare, {"table": "customers"}))
    assert any("'host'" in i and "'database'" in i for i in issues), issues


@pytest.mark.parametrize(
    "conn_type, params, url",
    [
        ("JDBC", {"url": "jdbc:derby:memory:x"}, "jdbc:derby:memory:x"),
        ("Postgres", PG, "jdbc:postgresql://db.internal:5432/crm"),
    ],
)
def test_jdbc_type_resolves_in_any_case(conn_type, params, url):
    opts = jdbc_connection_options(
        ConnectionConfig(id="c", name="c", type=conn_type, params=params)
    )
    assert opts["url"] == url


def test_mongo_extract_reaches_spark_mongodb_source(spark):
    """Mongo is extract-only: it validates, and the runner hands it to
    Spark's ``mongodb`` source. No connector jar is installed, so Spark
    reports the missing source; the runner no longer refuses the type."""
    mongo = ConnectionConfig(
        id="m", name="m", type="mongo",
        params={"uri": "mongodb://localhost:27017", "database": "app",
                "collection": "events"},
    )
    spec = _spec(mongo, {})
    assert validate_spec(spec) == []
    with pytest.raises(Exception) as err:
        PipelineRunner(spark).run(spec)
    assert "DATA_SOURCE_NOT_FOUND" in str(err.value)
    assert "unsupported extract format" not in str(err.value)

    load = _spec(mongo, {}, {"path": "/tmp/out"}, "m")
    assert any("does not support loading" in i for i in validate_spec(load))


@pytest.mark.parametrize(
    "conn_type, params, load",
    [
        ("json", {}, {"path": "/tmp/out", "partition_by": ["k"]}),
        ("csv", {}, {"path": "/tmp/out", "partition_by": ["k"]}),
        ("postgres", PG, {"table": "t", "partition_by": ["k"]}),
    ],
)
def test_partition_by_rejected_where_the_format_takes_none(conn_type, params, load):
    """A load whose format writes no partition layout must not accept
    partition_by: validate reports it, where it used to pass and the
    load wrote flat files (or a flat table)."""
    conn = ConnectionConfig(id="c", name="c", type=conn_type, params=params)
    issues = validate_spec(_spec(conn, {"query": "SELECT 1"}, load, "c"))
    assert any("'partition_by'" in i and conn_type in i for i in issues), issues


def test_json_load_with_partition_by_raises_at_run(spark, tmp_path):
    """The runner hands partition_by to the file writer, which refuses it
    for json, instead of dropping it and writing unpartitioned files."""
    src = str(tmp_path / "in")
    spark.createDataFrame([(1, "a")], "id int, k string").write.parquet(src)
    pq = ConnectionConfig(id="pq", name="pq", type="parquet")
    js = ConnectionConfig(id="js", name="js", type="json")
    out = str(tmp_path / "out")
    spec = _spec(pq, {"path": src}, {"path": out, "partition_by": ["k"]}, "js")
    spec.connections.append(js)
    with pytest.raises(ValueError, match="json files take no partition_by"):
        PipelineRunner(spark).run(spec)
