"""Bucketed-table tests: the co-located join must plan with NO shuffle
exchange, and salted operators must produce bit-identical results to their
unsalted equivalents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_open_source_spark.operators.skew import salted_count_sum, salted_join
from etl_open_source_spark.sources.bucketing import bucketed_join, write_bucketed


def _reset_table(spark, name):
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{name}", ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _reset_table(spark, "b_orders")
    _reset_table(spark, "b_lineitem")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], 8, sort_by=["o_orderkey"],
    )
    # small fixtures would broadcast (hiding the point); force the
    # shuffle-strategy path a 100 TB join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert "SortMergeJoin" in plan
        # (an in-task Sort may remain: Spark only elides it with exactly
        # one file per bucket — the shuffle elision is the scale win)
        expected = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_agg_identical_to_plain(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = {
        r.l_returnflag: (r.cnt, r.total)
        for r in salted_count_sum(l, "l_returnflag", "l_quantity", n_salts=8).collect()
    }
    plain = {
        r.l_returnflag: (r.cnt, r.total)
        for r in l.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert salted == plain  # bit-identical (decimal path)


def test_salted_join_identical_to_plain(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey", "o_totalprice")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    salted = salted_join(o, c, "o_custkey", n_salts=4)
    plain = o.join(c, "o_custkey")
    assert salted.count() == plain.count()
    s = {tuple(r) for r in salted.select("o_orderkey", "c_name").collect()}
    p = {tuple(r) for r in plain.select("o_orderkey", "c_name").collect()}
    assert s == p


def test_write_compacted_file_budget(spark, sf_dir, tmp_path):
    from etl_open_source_spark.operators.maintenance import compact_parquet

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = str(tmp_path / "compacted")
    assert compact_parquet(spark, f"{sf_dir}/lineitem.parquet", out, num_files=3) == 3
    assert spark.read.parquet(out).count() == l.count()


def test_hive_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """partition_by writes hive-style dirs; an equality filter on the
    partition column must surface as a PartitionFilter (directory pruning
    — zero IO for other partitions), not a data-row filter."""
    from etl_open_source_spark.catalog import load_table
    from etl_open_source_spark.sources.writers import write_parquet

    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_type")
    write_parquet(e, out, mode="replace", partition_by=["event_type"])
    back = spark.read.parquet(out).filter("event_type = 'purchase'")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_type" in pf  # pruned at the directory level
    assert back.count() == e.filter("event_type = 'purchase'").count()


def test_salted_ops_under_adversarial_skew(spark):
    """90%-one-key skew — the distribution AQE's split threshold is sized
    for but the salted rewrites must also survive. Results must equal the
    unsalted forms exactly; the salted partial phase must spread the hot
    key across all salts (the property that caps any one reducer at
    ~hot/n_salts rows at any scale)."""
    from etl_open_source_spark.operators.skew import salt_col

    n = 50_000
    df = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(7))
        .otherwise(F.col("id") % 97)
        .alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    salted = {
        r.k: (r.cnt, r.total)
        for r in salted_count_sum(df, "k", "v", n_salts=8).collect()
    }
    plain = {
        r.k: (r.cnt, r.total)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert salted == plain
    assert salted[7][0] >= int(n * 0.9)  # the hot key really is hot

    # the hot key's rows spread over every salt, none holding > 2x its
    # fair share — the actual skew-flattening guarantee
    spread = (
        df.withColumn("__salt", salt_col(8, "k", "v"))
        .filter(F.col("k") == 7)
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(spread) == 8
    fair = (n * 0.9) / 8
    assert max(r["count"] for r in spread) < 2 * fair

    dim = spark.range(97).select(F.col("id").alias("k"), (F.col("id") * 10).alias("attr"))
    sj = salted_join(df, dim, "k", n_salts=8)
    assert sj.count() == df.join(dim, "k").count()
    agg_s = {r.k: r.s for r in sj.groupBy("k").agg(F.sum("attr").alias("s")).collect()}
    agg_p = {
        r.k: r.s
        for r in df.join(dim, "k").groupBy("k").agg(F.sum("attr").alias("s")).collect()
    }
    assert agg_s == agg_p
