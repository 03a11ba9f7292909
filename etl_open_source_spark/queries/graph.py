"""Graph queries over the trade network distilled from the star schema.

[EXT] per SURVEY.md §2 — iterative graph analytics (the other half of the
iterative family next to connected-components dedup clustering,
operators/dedup.py). The nation-level trade graph (supplier nation →
customer nation, weight = lineitem count) is the canonical
fact-table-to-entity-graph distillation.

The PageRank oracle is generated: one CTE per iteration, each performing
the exact same scaled-integer update as the engine loop
(operators/graph.py) — truncating integer division keeps both engines
bit-identical with no float-order sensitivity anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators.graph import SCALE, pagerank_integer
from etl_open_source_spark.registry import query

_ITERS = 5


def _pagerank_oracle(iters: int = _ITERS, scale: int = SCALE) -> str:
    parts = [
        f"""
WITH edges AS (
  SELECT CAST(s.s_nationkey AS BIGINT) AS src,
         CAST(c.c_nationkey AS BIGINT) AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS v FROM nation),
nn AS (SELECT COUNT(*) AS n FROM nodes),
e AS (SELECT src, dst, w, SUM(w) OVER (PARTITION BY src) AS wout FROM edges),
r0 AS (SELECT v, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS r FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT n.v,
         CAST((SELECT ({15 * scale} // (100 * n)) FROM nn)
              + ((85 * COALESCE(c.s, 0)) // 100) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS v, SUM((p.r * e.w) // e.wout) AS s
    FROM r{i - 1} p JOIN e ON p.v = e.src
    GROUP BY e.dst
  ) c ON n.v = c.v
)"""
        )
    parts.append(
        f"""
SELECT n.n_nationkey, n.n_name, r.r AS pagerank
FROM r{iters} r JOIN nation n ON r.v = CAST(n.n_nationkey AS BIGINT)
ORDER BY pagerank DESC, n.n_nationkey"""
    )
    return "".join(parts)


@query(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 fixed iterations, scaled-integer exact)
    over the nation trade graph. The fact tables are touched exactly once
    (the edge aggregation); iterations run on the persisted entity-sized
    edge list with one dst-keyed shuffle each. At 100 TB the edge build is
    the only heavy stage and it is an ordinary groupBy — the iterate-on-
    the-distilled-graph shape is what makes iterative analytics viable at
    fact scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            s["s_nationkey"].cast("bigint").alias("src"),
            c["c_nationkey"].cast("bigint").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").cast("bigint").alias("v"))
    ranks = pagerank_integer(nodes, edges, iters=_ITERS)
    return (
        ranks.join(n, ranks["v"] == n["n_nationkey"].cast("bigint"))
        .select("n_nationkey", "n_name", F.col("r").alias("pagerank"))
        .orderBy(F.desc("pagerank"), "n_nationkey")
    )


@query(
    "q_graph_triangles",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
deg AS (
  SELECT v, COUNT(*) AS deg FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT) FROM deg) AS n_wedges,
       CAST(t.n_triangles AS BIGINT) AS n_triangles,
       CASE WHEN (SELECT COALESCE(SUM(deg * (deg - 1) // 2), 0) FROM deg) = 0 THEN 0.0
            ELSE ROUND(3.0 * t.n_triangles /
                       (SELECT SUM(deg * (deg - 1) // 2) FROM deg), 6) END
         AS clustering_coeff
FROM tri t
""",
    tags=("graph",),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the co-purchase
    graph (parts co-occurring in >= 2 orders). Oracle = the textbook
    a<b<c three-way edge join; engine = wedge-close on the
    DEGREE-ORIENTED graph (operators/graph.py::triangle_stats) — after
    orientation every vertex's fan-out is O(√m), so one hub part in
    every basket cannot make the wedge build quadratic in its raw
    degree. Identical counts (each triangle has exactly one wedge apex
    in the orientation's total order)."""
    from etl_open_source_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.withColumnsRenamed({"l_partkey": "a"})
    b = items.withColumnsRenamed({"l_partkey": "b"})
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("a", "b")
    )
    return triangle_stats(edges)
