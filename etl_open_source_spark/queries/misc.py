"""Remaining coverage: SCD2 versioning, map functions, null-preserving
explode, approximate percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators.scd import scd2_apply
from etl_open_source_spark.registry import query


@query(
    "q_scd2",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2200-01-01 00:00:00' AS valid_to,
         TRUE AS is_current
  FROM customer
),
changed AS (SELECT c_custkey, 'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 3 = 0)
SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
       CASE WHEN ch.c_custkey IS NOT NULL THEN TIMESTAMP '2020-06-01 00:00:00' ELSE d.valid_to END AS valid_to,
       ch.c_custkey IS NULL AS is_current
FROM dim d LEFT JOIN changed ch USING (c_custkey)
UNION ALL
SELECT c_custkey, c_mktsegment, TIMESTAMP '2020-06-01 00:00:00',
       TIMESTAMP '2200-01-01 00:00:00', TRUE
FROM changed
""",
    tags=("scd", "sink"),
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 apply (operators/scd.py): customers with key%3==0 change
    segment (old version closed, new opened); key%5==0 arrive UNCHANGED
    (must produce no new version — the oracle encodes only the real
    changes, so any spurious version hash-mismatches)."""
    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit("2200-01-01 00:00:00").cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit("UPDATED").alias("c_mktsegment")
    )
    noop = c.filter(F.col("c_custkey") % 5 == 0).select("c_custkey", "c_mktsegment")
    updates = changed.unionByName(noop.join(changed, "c_custkey", "left_anti"))
    return scd2_apply(
        dim, updates, keys=["c_custkey"], attrs=["c_mktsegment"],
        effective_ts="2020-06-01 00:00:00",
    )


@query(
    "q_fn_map",
    oracle="""
SELECT o_orderkey,
       ARRAY_TO_STRING(LIST_SORT(['priority=' || COALESCE(o_orderpriority, 'NULL'),
                                  'status=' || COALESCE(o_orderstatus, 'NULL')]), ',') AS props_str,
       CAST(2 AS BIGINT) AS n_keys
FROM orders
""",
    tags=("fn", "map"),
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map column surface: create_map → map_entries/map_keys, rendered as a
    sorted k=v string (raw MapType can't be order-stably hashed).

    NULL map values render as the literal 'NULL' — pinned on both sides
    because an entry that concatenates to NULL is handled differently by
    the engines' join folds: Spark's array_join skips NULL elements (''
    for an all-NULL array) while DuckDB's ARRAY_TO_STRING returns NULL
    for an all-NULL array (caught by the randomized scalar-fn
    differential)."""
    o = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    entries = F.transform(
        F.map_entries(m),
        lambda e: F.concat(
            e["key"], F.lit("="), F.coalesce(e["value"], F.lit("NULL"))
        ),
    )
    return o.select(
        "o_orderkey",
        F.array_join(F.array_sort(entries), ",").alias("props_str"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
    )


@query(
    "q_explode_outer",
    oracle="""
SELECT p_partkey,
       UNNEST(CASE WHEN p_name IS NULL
                     OR LEN(LIST_FILTER(STRING_SPLIT(p_name, ' '), x -> LENGTH(x) > 6)) = 0
                   THEN [CAST(NULL AS VARCHAR)]
                   ELSE LIST_FILTER(STRING_SPLIT(p_name, ' '), x -> LENGTH(x) > 6) END) AS long_word
FROM part
""",
    tags=("fn", "array"),
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with an empty OR NULL array survive with NULL
    (plain explode silently drops them — a classic data-loss bug). The
    oracle's NULL-name branch is explicit: DuckDB's UNNEST(NULL) emits
    zero rows where explode_outer keeps the row (caught by the randomized
    differential)."""
    p = load_table(spark, sf_dir, "part")
    long_words = F.filter(F.split("p_name", " "), lambda x: F.length(x) > 6)
    return p.select("p_partkey", F.explode_outer(long_words).alias("long_word"))


@query("q_agg_approx_percentile", oracle=None, tags=("agg", "approx"))
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles — the 100 TB path (bounded-memory sketch vs
    the exact per-group sort of q_agg_percentile). Rows-only; the accuracy
    bound vs exact is pinned in tests/test_llm_ops.py."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
            F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias("p95_approx"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_filter_not_in_nulls",
    oracle="""
SELECT c_custkey, c_mktsegment,
       c_mktsegment NOT IN ('BUILDING', NULL) AS not_in_with_null,
       c_mktsegment NOT IN ('BUILDING', 'MACHINERY') AS not_in_plain
FROM customer
""",
    tags=("filter", "subquery"),
)
def q_filter_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued NOT IN, surfaced as data: against a NULL-containing
    list the predicate is FALSE for matches and NULL (never TRUE)
    otherwise — the classic SQL footgun. Both engines must produce the
    identical FALSE/NULL pattern."""
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               c_mktsegment NOT IN ('BUILDING', NULL) AS not_in_with_null,
               c_mktsegment NOT IN ('BUILDING', 'MACHINERY') AS not_in_plain
        FROM {customer}
        """,
        customer=load_table(spark, sf_dir, "customer"),
    )


@query(
    "q_subquery_correlated",
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > 2 * (
  SELECT CAST(SUM(CAST(CASE WHEN ISFINITE(o2.o_totalprice) THEN o2.o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
""",
    tags=("subquery",),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders above 2x their customer's
    average) — Catalyst decorrelates it into an aggregate + join rather
    than re-running the subquery per row."""
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM {orders} o
        WHERE o.o_totalprice > 2 * (
          SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey
        )
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "q_cdc_apply",
    oracle="""
SELECT user_id, last_seq, value AS last_value
FROM (
  SELECT user_id, event_id AS last_seq, value,
         CASE WHEN event_type = 'error' THEN 'D'
              WHEN value > 100 THEN 'U' ELSE 'I' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND op <> 'D'
""",
    tags=("cdc",),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log compaction: the events table is read as an
    insert/update/delete feed (op derived per row, event_id as the change
    sequence) and collapsed to the current snapshot — latest op per key
    wins, keys whose latest op is a delete disappear. This is the apply
    step of every log-based replication pipeline (Debezium-style),
    downstream of q_merge_upsert's single-batch merge.

    One window over the key partitioning, no join against the snapshot:
    at 100 TB the feed compaction shuffles once on the key and the
    surviving rows merge into the target (q_merge_upsert /
    q_sink_replace)."""
    e = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("value") > 100, "U")
        .otherwise("I")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("last_seq"))
    return (
        e.select(
            "user_id",
            F.col("event_id").alias("last_seq"),
            "value",
            op.alias("op"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("user_id", "last_seq", F.col("value").alias("last_value"))
    )


@query(
    "q_agg_argmax",
    oracle="""
WITH nn AS (
  SELECT l_returnflag, l_orderkey, l_extendedprice
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_orderkey IS NOT NULL
),
r AS (
  SELECT l_returnflag, l_orderkey, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC, l_orderkey DESC) AS rx,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice ASC, l_orderkey ASC) AS rn
  FROM nn
)
SELECT g.l_returnflag,
       MAX(CASE WHEN r.rx = 1 THEN r.l_orderkey END) AS top_order,
       CAST(MAX(CASE WHEN r.rx = 1 THEN r.l_extendedprice END) AS DOUBLE) AS top_price,
       MAX(CASE WHEN r.rn = 1 THEN r.l_orderkey END) AS bottom_order
FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
LEFT JOIN r ON r.l_returnflag IS NOT DISTINCT FROM g.l_returnflag
GROUP BY g.l_returnflag ORDER BY g.l_returnflag
""",
    tags=("agg",),
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates with deterministic tie-break: max/min over
    a NULL-masked struct(value, key) ordinal, so equal prices resolve by
    key instead of Spark's arbitrary-winner max_by default, and a row
    with a NULL price or NULL key never becomes the argmax (max_by's
    struct ordinal is never NULL even when its fields are, so struct-NULL
    field ordering would otherwise decide — pinned by the randomized
    relational-agg differential; the oracle filters the same rows and
    preserves empty groups via a null-safe left join). One hash aggregate
    — no window, no self-join. At scale this is THE pattern for 'latest
    row per key' without a sort."""
    l = load_table(spark, sf_dir, "lineitem")
    usable = F.col("l_extendedprice").isNotNull() & F.col("l_orderkey").isNotNull()
    pair = F.when(
        usable,
        F.struct(
            F.col("l_extendedprice").alias("price"),
            F.col("l_orderkey").alias("key"),
        ),
    )
    return (
        l.groupBy("l_returnflag")
        .agg(F.max(pair).alias("top"), F.min(pair).alias("bot"))
        .select(
            "l_returnflag",
            F.col("top.key").alias("top_order"),
            F.col("top.price").cast("double").alias("top_price"),
            F.col("bot.key").alias("bottom_order"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_corr",
    oracle="""
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covp,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covs,
       ROUND(stddev_pop(l_quantity), 6) AS qty_sd,
       COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics: correlation + covariance (pop/sample) per
    group in one pass (partial moments combine map-side — no second scan,
    no window). Rounded because the double moment sums fold in partition
    order (corr/covar cannot go through the decimal-exact path — they are
    ratios of co-moments).

    The correlation is NOT the built-in ``F.corr``: under ANSI mode
    (Spark 4 default) it raises DIVIDE_BY_ZERO on a zero-variance or
    single-row group, where DuckDB's corr returns NaN (caught by the
    randomized relational-agg differential). Pearson is computed on
    pairwise-complete rows (both measures non-NULL, masked before the
    moments — corr semantics) as try_divide(covar, sd·sd), which yields
    NULL on the degenerate groups in both engines."""
    l = load_table(spark, sf_dir, "lineitem")
    both = F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    qp = F.when(both, F.col("l_quantity"))
    ep = F.when(both, F.col("l_extendedprice"))
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(
                F.try_divide(
                    F.covar_samp(qp, ep),
                    F.stddev_samp(qp) * F.stddev_samp(ep),
                ),
                6,
            ).alias("qty_price_corr"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("qty_price_covp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covs"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("qty_sd"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_fn_regex",
    oracle="""
SELECT p_partkey,
       len(regexp_extract_all(p_name, '[aeiou]+')) AS n_vowel_runs,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       CASE WHEN regexp_matches(p_name, 'red|blue|green') THEN 1 ELSE 0 END AS has_color,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
FROM part
WHERE p_partkey <= 500
""",
    tags=("fn",),
)
def q_fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function pack: extract-all counts, anchored group extract,
    boolean match, global replace — all codegen'd JVM regex, scan-local.
    (Oracle notes: DuckDB regexp_replace needs the 'g' flag to match
    Spark's always-global semantics; boolean match is regexp_matches
    there vs rlike here.)"""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.size(F.expr("regexp_extract_all(p_name, '[aeiou]+', 0)")).alias("n_vowel_runs"),
        F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
        F.when(F.col("p_name").rlike("red|blue|green"), 1).otherwise(0).alias("has_color"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


@query("q_agg_cms", oracle=None, tags=("agg", "sketch", "approx"))
def q_agg_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per event_type over user_id (eps=0.001,
    confidence 0.99, fixed seed): a mergeable frequency sketch — the
    heavy-hitter / frequency-estimate companion to the HLL cardinality
    sketch (q_agg_hll_merge). Counter sums are commutative, so the
    serialized sketch is partition-order deterministic. rows-only for
    the driver (DuckDB has no CMS); the error bound (est >= true, est <=
    true + eps*N at 99% confidence) is pinned by decoding the sketch
    JVM-side in tests/test_llm_ops.py."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.expr("hex(count_min_sketch(user_id, 0.001d, 0.99d, 42)) ").alias("cms_hex"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q_recursive_cte",
    oracle="""
WITH RECURSIVE chain AS (
  SELECT o_orderkey AS start_key, o_orderkey AS cur, 0 AS depth
  FROM orders WHERE o_orderkey <= 500
  UNION ALL
  SELECT start_key, cur // 2, depth + 1 FROM chain WHERE cur > 1
)
SELECT start_key,
       CAST(MAX(depth) AS BIGINT) AS chain_len,
       CAST(SUM(cur) AS BIGINT) AS chain_sum
FROM chain GROUP BY start_key
""",
    tags=("sql", "recursive"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x WITH RECURSIVE, SPARK-24497): per order
    key, walk the halving chain k -> k/2 -> ... -> 1 and aggregate its
    depth and sum — the iterate-until-fixpoint surface (org hierarchies,
    BOM explosions, graph reachability) as plain SQL. Each iteration is
    one distributed step; contrast the driver loop in
    operators/dedup.py connected_components (which adds a convergence
    check + lineage truncation the SQL form can't express)."""
    return spark.sql("""
      WITH RECURSIVE chain AS (
        SELECT o_orderkey AS start_key, o_orderkey AS cur, 0 AS depth
        FROM {orders} WHERE o_orderkey <= 500
        UNION ALL
        SELECT start_key, cur DIV 2, depth + 1 FROM chain WHERE cur > 1
      )
      SELECT start_key,
             CAST(MAX(depth) AS BIGINT) AS chain_len,
             CAST(SUM(cur) AS BIGINT) AS chain_sum
      FROM chain GROUP BY start_key
    """, orders=load_table(spark, sf_dir, "orders"))


@query(
    "q_fn_date2",
    oracle="""
SELECT event_id,
       CAST(ts AS DATE) AS d,
       last_day(CAST(ts AS DATE)) AS last_d,
       CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
       CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
       CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
       CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-12-31') AS INTEGER) AS days_to_eoy
FROM events
WHERE event_id < 2000
""",
    tags=("fn", "date"),
)
def q_fn_date2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date-function pack: last_day / week truncation / dayofweek
    / month arithmetic with end-of-month clamping (Jan 31 + 1 month =
    Feb 29) / day differences — all scan-local codegen. Oracle notes:
    Spark's dayofweek is Sunday=1 while DuckDB's is Sunday=0 (+1 to
    align); month-add clamping matches exactly in both engines."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    d = F.col("ts").cast("date")
    return e.select(
        "event_id",
        d.alias("d"),
        F.last_day(d).alias("last_d"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.add_months(d, 1).alias("next_month"),
        F.datediff(F.lit("2024-12-31").cast("date"), d).cast("int").alias("days_to_eoy"),
    )


@query(
    "q_fn_null_pack",
    oracle="""
SELECT event_id,
       NULLIF(event_type, 'view') AS not_view,
       COALESCE(NULLIF(event_type, 'view'), 'VIEWED') AS label,
       CASE WHEN NULLIF(value, 0.0) IS NULL THEN -1.0 ELSE value END AS nz_value,
       IFNULL(NULLIF(props, '{}'), '<empty>') AS props_or_marker,
       (NULLIF(value, 0.0) IS NOT NULL) AS has_value
FROM events
WHERE event_id < 3000
""",
    tags=("fn", "null"),
)
def q_fn_null_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling pack: NULLIF / COALESCE / IFNULL / null-aware CASE
    and boolean null tests — the sanitize-adjacent scalar surface
    (the reference's only null story is the lossy global fill at
    core/utils.py:6-15; these are the targeted per-column forms).
    Scan-local; identical semantics in both engines."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    not_view = F.nullif(F.col("event_type"), F.lit("view"))
    nz = F.nullif(F.col("value"), F.lit(0.0))
    return e.select(
        "event_id",
        not_view.alias("not_view"),
        F.coalesce(not_view, F.lit("VIEWED")).alias("label"),
        F.when(nz.isNull(), F.lit(-1.0)).otherwise(F.col("value")).alias("nz_value"),
        F.ifnull(F.nullif(F.col("props"), F.lit("{}")), F.lit("<empty>")).alias("props_or_marker"),
        nz.isNotNull().alias("has_value"),
    )
