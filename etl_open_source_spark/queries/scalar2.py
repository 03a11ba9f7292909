"""Second scalar/analytic coverage batch: extended string functions,
bitwise ops, percent_rank/cume_dist, scalar subquery, moment statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.registry import query


@query(
    "q_fn_string2",
    oracle="""
SELECT p_partkey,
       TRANSLATE(p_brand, '#', '-') AS brand_translated,
       REVERSE(p_type) AS type_reversed,
       REPEAT(SUBSTRING(p_brand, 1, 2), 3) AS brand_repeat,
       REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num,
       CONCAT_WS('/', p_brand, p_type) AS brand_path,
       RPAD(p_type, 12, '.') AS type_pad,
       REPLACE(p_name, ' ', '_') AS name_snake
FROM part
""",
    tags=("fn",),
)
def q_fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string pack: translate/reverse/repeat/regexp groups/rpad/
    replace. (initcap is omitted from the oracled set — DuckDB lacks it —
    but is available through Spark SQL directly.)"""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_brand", "#", "-").alias("brand_translated"),
        F.reverse(F.col("p_type")).alias("type_reversed"),
        F.repeat(F.substring("p_brand", 1, 2), 3).alias("brand_repeat"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_path"),
        F.rpad("p_type", 12, ".").alias("type_pad"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_linenumber << 3 AS BIGINT) AS shl,
       CAST(l_orderkey >> 2 AS BIGINT) AS shr,
       CAST(l_orderkey & 255 AS BIGINT) AS band,
       CAST(l_orderkey | 4096 AS BIGINT) AS bor,
       CAST(XOR(l_orderkey, l_linenumber) AS BIGINT) AS bxor,
       CAST(BIT_COUNT(l_orderkey) AS BIGINT) AS popcount
FROM lineitem
""",
    tags=("fn",),
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator pack (hash bucketing / bitmap primitives)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.shiftleft("l_linenumber", 3).cast("bigint").alias("shl"),
        F.shiftright("l_orderkey", 2).cast("bigint").alias("shr"),
        F.col("l_orderkey").bitwiseAND(F.lit(255)).cast("bigint").alias("band"),
        F.col("l_orderkey").bitwiseOR(F.lit(4096)).cast("bigint").alias("bor"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_linenumber").cast("bigint")).cast("bigint").alias("bxor"),
        F.bit_count("l_orderkey").cast("bigint").alias("popcount"),
    )


@query(
    "q_window_percent_rank",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice NULLS LAST, o_orderkey NULLS LAST)
""",
    tags=("window",),
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank analytics: percent_rank = (rank-1)/(n-1) and cume_dist
    — both exact rational arithmetic on identical inputs in both engines.
    NULL ordering pinned NULLS LAST on both sides (Spark defaults
    ascending NULLS FIRST, DuckDB NULLS LAST — a NULL price shifts every
    rank in the partition; caught by the randomized differential)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.asc_nulls_last("o_totalprice"), F.asc_nulls_last("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_subquery_scalar",
    oracle="""
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(CASE WHEN ISFINITE(c_acctbal) THEN c_acctbal END AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) FROM customer)
""",
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (customers above average balance) —
    Catalyst plans the subquery once and broadcasts the scalar."""
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM {customer}
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM {customer}
        )
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "q_agg_stats",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS ssq,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       n,
       ROUND(CASE WHEN n > 1 AND ssq IS NOT NULL
                  THEN GREATEST(0.0, (ssq - s * s / n) / (n - 1)) END, 6) AS qty_var,
       ROUND(CASE WHEN n > 1 AND ssq IS NOT NULL
                  THEN SQRT(GREATEST(0.0, (ssq - s * s / n) / (n - 1))) END, 6) AS qty_stddev
FROM m
ORDER BY l_returnflag
""",
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via exact decimal moment sums then a fixed
    double op sequence — the built-in var_samp/stddev_samp accumulate
    doubles in partition order (nondeterministic), so the engine computes
    moments exactly and derives the statistics deterministically.

    Three pinned contracts (adversarial fixture + ADVICE r8): a
    single-row group has UNDEFINED sample variance — NULL, never
    divide-by-zero (Spark ANSI errors, DuckDB emits inf without the
    guard); a constant series at a non-dyadic value can cancel to
    ~-1e-12, so the variance is clamped at 0 before sqrt (DuckDB
    SQRT(negative) hard-errors); and an ALL-NULL group (SUM → NULL)
    reports NULL variance via an explicit ``ssq IS NOT NULL`` guard on
    BOTH sides — never ``GREATEST(0.0, NULL)``, whose NULL handling is
    DuckDB-version-dependent (NULL-skip vs NULL-propagate) where Spark's
    ``greatest`` always NULL-skips to 0.0."""
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,4)")
    n = F.count(F.lit(1))
    ssq = F.sum(q * q).cast("double")
    s = F.sum(q).cast("double")
    var = F.when(
        (n > F.lit(1)) & ssq.isNotNull(),
        F.greatest(F.lit(0.0), (ssq - s * s / n) / (n - F.lit(1))),
    )
    return (
        l.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            F.round(var, 6).alias("qty_var"),
            F.round(F.sqrt(var), 6).alias("qty_stddev"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_fn_variant",
    oracle="""
WITH j AS (
  SELECT event_id,
         '{"meta":{"type":"' || event_type || '","ver":'
         || CAST(event_id % 10 AS VARCHAR) || '},"vals":['
         || CAST(event_id % 7 AS VARCHAR) || ','
         || CAST(user_id % 11 AS VARCHAR) || ']}' AS doc
  FROM events
)
SELECT event_id,
       JSON_EXTRACT_STRING(doc, '$.meta.type') AS vtype,
       CAST(JSON_EXTRACT(doc, '$.meta.ver') AS INT) AS ver,
       CAST(JSON_EXTRACT(doc, '$.vals[1]') AS BIGINT) AS val2
FROM j
""",
    tags=("fn", "variant"),
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4): a nested
    JSON document is parse_json'd once into the binary variant encoding,
    then fields come out with typed variant_get path expressions — the
    engine-native path for schemaless columns (vs string-re-parsing
    get_json_object per field, q_fn_json). The fixture props column is
    flat, so the document is built deterministically from row fields
    (integers and enum strings only — float rendering differs between
    engines); the oracle extracts from the identical JSON text.

    At scale: variant parse + typed access is scan-local (no shuffle), and
    the binary encoding is shredded/pushed down by the parquet variant
    writer in newer Spark — the column never re-parses as text."""
    e = load_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","ver":'),
        (F.col("event_id") % 10).cast("string"),
        F.lit('},"vals":['),
        (F.col("event_id") % 7).cast("string"),
        F.lit(","),
        (F.col("user_id") % 11).cast("string"),
        F.lit("]}"),
    )
    v = F.parse_json(doc)
    return e.select(
        "event_id",
        F.variant_get(v, "$.meta.type", "string").alias("vtype"),
        F.variant_get(v, "$.meta.ver", "int").alias("ver"),
        F.variant_get(v, "$.vals[1]", "bigint").alias("val2"),
    )


@query(
    "q_fn_lambda",
    oracle="""
WITH base AS (
  SELECT o_orderkey,
         LIST_TRANSFORM(GENERATE_SERIES(1, 1 + o_orderkey % 7),
                        i -> CAST(i * (1 + o_orderkey % 5) AS BIGINT)) AS xs
  FROM orders
)
SELECT o_orderkey,
       ARRAY_TO_STRING(LIST_TRANSFORM(xs, x -> x * 2), ',') AS doubled_csv,
       COALESCE(ARRAY_TO_STRING(LIST_FILTER(xs, x -> x % 2 = 0), ','), '') AS evens_csv,
       LEN(LIST_FILTER(xs, x -> x > 10)) > 0 AS any_gt10,
       CAST(LIST_SUM(xs) AS BIGINT) AS total,
       ARRAY_TO_STRING(LIST_TRANSFORM(xs, x -> x + CAST(LEN(xs) AS BIGINT)), ',') AS shifted_csv
FROM base
""",
    tags=("fn", "lambda"),
)
def q_fn_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — the lambda surface (SPARK-23908)
    that replaced explode-reaggregate round-trips for per-row array work:
    transform / filter / exists / aggregate, all evaluated inside codegen
    with zero shuffles and no row explosion. Arrays are built
    deterministically from integer row fields so every value is exact in
    both engines (DuckDB mirrors with list_transform / list_filter /
    list_sum).

    At scale this is the difference between a map stage and an
    explode -> groupBy round-trip (a full shuffle of corpus x array-length
    rows) for per-document feature vectors."""
    o = load_table(spark, sf_dir, "orders")
    xs = F.transform(
        F.sequence(F.lit(1), F.lit(1) + F.col("o_orderkey") % 7),
        lambda i: (i * (F.lit(1) + F.col("o_orderkey") % 5)).cast("bigint"),
    )
    base = o.select("o_orderkey", xs.alias("xs"))
    return base.select(
        "o_orderkey",
        F.array_join(
            F.transform("xs", lambda x: x * 2).cast("array<string>"), ","
        ).alias("doubled_csv"),
        F.array_join(
            F.filter("xs", lambda x: x % 2 == 0).cast("array<string>"), ","
        ).alias("evens_csv"),
        F.exists("xs", lambda x: x > 10).alias("any_gt10"),
        F.aggregate(
            "xs", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("total"),
        F.array_join(
            F.transform("xs", lambda x: x + F.size("xs").cast("bigint")).cast(
                "array<string>"
            ),
            ",",
        ).alias("shifted_csv"),
    )
