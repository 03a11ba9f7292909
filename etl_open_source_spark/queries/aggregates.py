"""Aggregation operators (SURVEY.md §2.C "Aggregations").

The reference never aggregates — it delegates arbitrary SQL to the source
DBMS (reference core/extractors/sqlserver.py:46-55), so the engine must own
the aggregation surface itself. Everything here is plain
``groupBy(...).agg(...)`` — Catalyst plans partial (map-side) + final
aggregation automatically, which is exactly the two-phase plan you want at
100 TB: no row leaves an executor before being combined locally.

Oracle parity: see functions/numeric.py (decimal-exact double aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.functions.numeric import (
    SQL_ONE,
    davg,
    dec,
    dsum,
    money,
    one,
    rate,
    sql_davg,
    sql_dsum,
    sql_dsum_finite,
    sql_money,
    sql_rate,
)
from etl_open_source_spark.registry import query

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  CAST(SUM({sql_money('l_extendedprice')} * ({SQL_ONE} - {sql_rate('l_discount')})) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({sql_money('l_extendedprice')} * ({SQL_ONE} - {sql_rate('l_discount')}) * ({SQL_ONE} + {sql_rate('l_tax')})) AS DOUBLE) AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q_agg_groupby", oracle=_Q1_ORACLE, bench=True, tags=("agg", "flagship"))
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped flagship: scan → filter → hash agg → sort.

    At scale: the filter is pushed into the parquet scan, the aggregation is
    partial+final over the 6 tiny group keys (no skew possible), and the
    final sort moves ~6 rows. Nothing here degrades at 1000 executors.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(money("l_extendedprice") * (one() - rate("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.sum(
                money("l_extendedprice") * (one() - rate("l_discount")) * (one() + rate("l_tax"))
            )
            .cast("double")
            .alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_global",
    oracle=f"""
SELECT
  COUNT(*) AS cnt,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  MIN(l_shipdate) AS min_ship,
  MAX(l_shipdate) AS max_ship
FROM lineitem
""",
    tags=("agg",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregates — a single-row global agg (partial per partition,
    one final reduce; constant-size shuffle regardless of input size)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity").alias("sum_qty"),
        davg("l_extendedprice").alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "q_agg_distinct",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS distinct_custs,
       COUNT(*) AS cnt
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("agg",),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Catalyst expands to a two-level aggregate (distinct
    keys first, then count), avoiding a giant hash set per executor."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("distinct_custs"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


@query("q_agg_approx_distinct", oracle=None, tags=("agg", "approx"))
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NDV via HyperLogLog++ — the scale path for COUNT(DISTINCT)
    on high-cardinality keys (fixed-size sketch instead of a shuffle of all
    distinct values). Rows-only check: approximate by design; invariant
    tests in tests/test_aggregates.py bound the error."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_having",
    oracle=f"""
SELECT o_custkey,
       COUNT(*) AS order_count,
       {sql_dsum_finite('o_totalprice')} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 10
ORDER BY o_custkey
""",
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — a plain filter above the agg node."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dsum("o_totalprice").alias("total_spent"),
        )
        .filter(F.col("order_count") >= 10)
        .orderBy("o_custkey")
    )


_ROLLUP_AGGS_SQL = f"""
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS sum_price
"""

# Oracle twin of the fragment above: DuckDB's integer-backed decimal cast
# hard-errors on NaN/±Inf where Spark's ANSI cast silently NULLs them
# (NaN-axis r11) — the guard changes nothing on finite data. The engine
# fragment stays unguarded: Spark SQL has no ISFINITE and doesn't need
# one (the NULL-at-decimal-boundary contract holds by cast mechanism).
_ROLLUP_AGGS_ORACLE = f"""
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       COUNT(*) AS cnt,
       {sql_dsum_finite('o_totalprice')} AS sum_price
"""


@query(
    "q_agg_rollup",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
{_ROLLUP_AGGS_ORACLE}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
    tags=("agg",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals — one shuffle produces all rollup levels.
 Empty-input contract: Spark's Expand+keyed hash aggregate emits
    NO rows over an empty table (ANSI would emit the () grand-total
    row); the oracle mirrors with HAVING COUNT(*) > 0, which filters
    nothing on non-empty input (every grouping-set row covers >= 1
    source row) - pinned by tests/test_empty_input.py.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


@query(
    "q_agg_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
{_ROLLUP_AGGS_ORACLE}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
    tags=("agg",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations (CUBE). Empty-input contract: Spark's Expand+keyed hash aggregate emits
    NO rows over an empty table (ANSI would emit the () grand-total
    row); the oracle mirrors with HAVING COUNT(*) > 0, which filters
    nothing on non-empty input (every grouping-set row covers >= 1
    source row) - pinned by tests/test_empty_input.py.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


@query(
    "q_agg_groupingsets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
{_ROLLUP_AGGS_ORACLE}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
HAVING COUNT(*) > 0
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
    tags=("agg",),
)
def q_agg_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL — the engine's SQL-transformer
    surface (SURVEY §2.B sql_transformer) in action.
 Empty-input contract: Spark's Expand+keyed hash aggregate emits
    NO rows over an empty table (ANSI would emit the () grand-total
    row); the oracle mirrors with HAVING COUNT(*) > 0, which filters
    nothing on non-empty input (every grouping-set row covers >= 1
    source row) - pinned by tests/test_empty_input.py.
    """
    return spark.sql(
        f"""
SELECT o_orderstatus, o_orderpriority,
{_ROLLUP_AGGS_SQL}
FROM {{orders}}
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
""",
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_agg_pivot",
    oracle=f"""
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS O,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS F,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-to-wide with an explicit value list (no extra discovery pass —
    at 100 TB, always pass the pivot values explicitly).

    The counts frame joins back NULL-SAFE: GROUP BY keeps a NULL group
    key, so a plain equi-join here would silently drop the NULL-flag row
    that the oracle's single GROUP BY retains (caught by the randomized
    lineitem differential). Both sides are group-cardinality-sized, so
    the join stays a broadcast regardless of input scale."""
    l = load_table(spark, sf_dir, "lineitem")
    pivoted = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )
    counts = (
        l.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumnRenamed("l_returnflag", "rf")  # avoid self-join ambiguity
    )
    return (
        pivoted.join(counts, pivoted["l_returnflag"].eqNullSafe(F.col("rf")))
        .select("l_returnflag", "O", "F", "cnt")
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_collect",
    oracle="""
SELECT o_orderstatus,
       COALESCE(ARRAY_TO_STRING(LIST_SORT(
           LIST(DISTINCT o_orderpriority) FILTER (WHERE o_orderpriority IS NOT NULL)
       ), ','), '') AS priorities,
       COUNT(*) AS cnt
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("agg",),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/set aggregation, rendered as a sorted CSV string so the result
    is deterministic and hashable (collect_set order is not).

    NULL handling pinned: Spark's collect_set silently drops NULLs and
    array_join renders the empty set as '' — DuckDB's LIST(DISTINCT)
    keeps a NULL entry and ARRAY_TO_STRING maps the all-NULL list to
    NULL, so the oracle filters NULLs and coalesces to '' to match
    (caught by the randomized relational-agg differential)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias("priorities"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


@query("q_agg_hll_merge", tags=("agg", "sketch"))
def q_agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches: per-(event_type, day) HLL
    sketches of user_id are merged up to per-event_type estimates and
    compared with sketching the raw column directly. HLL union takes the
    max per register, so the merged estimate equals the direct one
    exactly — the property that makes pre-aggregated daily sketch tables
    work: at 100 TB you sketch each new day once (one scan) and answer
    any date-range NDV question by merging tiny sketch blobs, never
    rescanning history. No SQL oracle (sketch binaries are
    engine-specific); the merge==direct invariant and a tolerance vs
    exact COUNT DISTINCT are pinned in tests/test_llm_ops.py."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("users_merged")
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("users_direct")
    )
    return (
        merged.join(direct, "event_type")
        .withColumn(
            "merge_lossless", F.col("users_merged") == F.col("users_direct")
        )
        .orderBy("event_type")
    )
