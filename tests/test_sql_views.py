"""SQL queries bind their input frames for the one ``spark.sql`` call
(``spark.sql(text, name=df)``) and leave the session's temp views alone:
a user's view keeps its name and its frame, and no view is left behind."""

from __future__ import annotations

SQL_QUERIES = [
    "q_agg_groupingsets",
    "q_filter_not_in_nulls",
    "q_subquery_correlated",
    "q_recursive_cte",
    "q_subquery_scalar",
    "q_udtf",
    "q_sql_transform",
]


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_sql_queries_leave_session_views_alone(spark, sf_dir):
    from etl_open_source_spark.registry import get_registry

    registry = get_registry()
    spark.range(3).withColumnRenamed("id", "user_col").createOrReplaceTempView("orders")
    try:
        before = _temp_views(spark)
        for name in SQL_QUERIES:
            assert registry[name].fn(spark, sf_dir).collect(), name
        assert _temp_views(spark) == before
        assert spark.table("orders").columns == ["user_col"]
        assert spark.table("orders").count() == 3
    finally:
        spark.catalog.dropTempView("orders")
