"""UDF / UDAF / UDTF surface (SURVEY.md §2.C) — the reference's "python"
custom-transformer intent (core/engine.py:155-158, stub misspelled
custome_transformer.py so it can never have run).

These deliberately use the SLOW paths (row UDF) and the sanctioned fast
paths (Arrow pandas_udf, applyInPandas, UDTF) so both are covered; the
engine's own operators never use row UDFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import StringType

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.registry import query


@query(
    "q_udf_scalar",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice IS NULL OR ISNAN(o_totalprice) THEN NULL
            WHEN o_totalprice >= 300000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS tier
FROM orders
""",
    tags=("udf",),
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the 10-100× slow path — kept for parity
    with the reference's custom-code transformer; never used internally).

    NULL contract (ADVICE r8): NULL-in → NULL-out. A missing price has
    no tier — the UDF returns None and the oracle's first CASE arm
    mirrors it, rather than silently classifying missing prices as a
    real 'low' tier. NaN contract (NaN-axis r11): NaN also has no tier —
    and the engines disagree by default: Python's IEEE comparisons make
    NaN fail every >= (falling through to 'low') while SQL's NaN-high
    total order makes it 'high'; both sides pin NULL explicitly. ±Inf
    need no pin: inf >= 300000 and -inf-falls-through agree between
    Python and SQL."""

    @udf(StringType())
    def tier(price):
        # NULL/NaN-in -> NULL-out (ADVICE r8; NaN-axis r11); plain args —
        # a `float | None` hint defeats pyspark's eval-type inference
        if price is None or price != price:
            return None
        if price >= 300000:
            return "high"
        if price >= 100000:
            return "mid"
        return "low"

    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", tier("o_totalprice").alias("tier"))


@query(
    "q_udf_pandas",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
""",
    tags=("udf",),
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Arrow pandas_udf — elementwise double ops are the same
    IEEE ops the SQL engine runs, so values match the oracle exactly."""

    @pandas_udf("double")
    def net(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1 - discount)

    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey", "l_linenumber", net("l_extendedprice", "l_discount").alias("net_price")
    )


@query(
    "q_udaf_pandas",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty_total
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    tags=("udf",),
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregate via applyInPandas (full-group Arrow batch).
    Outputs are order-independent (count/min/max/int-sum) because the rows
    of a group arrive in nondeterministic order. At scale: groups must fit
    in executor memory — use built-in aggs unless the logic truly needs
    whole-group access.

    NULL/fraction contracts pinned (randomized IO differential): NULL
    quantities are dropped before the integer fold (astype('int64') on
    NaN raises; SQL SUM skips NULLs), an all-NULL group sums to NULL
    (SQL SUM over zero values), and both sides FLOOR before casting —
    pandas astype truncates where DuckDB's CAST rounds."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf["l_quantity"].dropna()
        qty = (
            int(qs.apply(lambda v: int(v // 1)).sum()) if len(qs) else None
        )
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "n_rows": [len(pdf)],
                "min_price": [pdf["l_extendedprice"].min()],
                "max_price": [pdf["l_extendedprice"].max()],
                "qty_total": pd.array([qty], dtype="Int64"),
            }
        )

    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").applyInPandas(
        agg,
        "l_returnflag string, l_linestatus string, n_rows bigint, "
        "min_price double, max_price double, qty_total bigint",
    )


@query(
    "q_udtf",
    oracle="""
SELECT o_orderkey, UNNEST(STRING_SPLIT(o_orderpriority, '-')) AS part
FROM orders
""",
    tags=("udf",),
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row → N output rows, invoked
    via LATERAL join in Spark SQL."""

    @udtf(returnType="part string")
    class SplitParts:
        def eval(self, s: str):
            # NULL input → zero rows, matching the oracle's UNNEST(NULL)
            # (caught by the randomized IO differential)
            if s is None:
                return
            for part in s.split("-"):
                yield (part,)

    spark.udtf.register("split_parts", SplitParts)
    return spark.sql(
        """
        SELECT o.o_orderkey, s.part
        FROM {orders} o, LATERAL split_parts(o.o_orderpriority) s
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )
