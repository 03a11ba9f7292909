"""Iterative graph operators — fixed-point PageRank in exact integer
arithmetic.

[EXT] per SURVEY.md §2 — the reference has no graph ops (transform
vocabulary filter/map/merge, structure.txt:24); large-star/small-star
connected components already live in operators/dedup.py, and PageRank is
the other canonical iterative-on-Spark algorithm (importance scoring over
an entity graph distilled from the fact tables).

Cross-engine exactness: floating-point PageRank is order-sensitive (the
per-node sum of incoming contributions depends on partition order), so
ranks are kept as **scaled bigints** (1.0 ≡ ``scale``) and every step is
integer multiply / integer divide / integer sum — associative,
commutative, bit-identical in any engine. The update per iteration is

    r'(v) = (15·scale) div (100·N)  +  (85 · Σ_u (r(u)·w(u,v)) div W(u)) div 100

i.e. damping 0.85 with weighted edge split, truncating division (all
values non-negative). Overflow-safe by construction: r < scale = 1e9 and
edge weights are fact-table row counts, so r·w < 1e9·1e10 < 2^63 even at
100 TB fact scale (nation-level graph).

Scale shape: the fact-table work is the ONE edge-aggregation at build
time; iterations touch only the (entity × entity) edge list, persisted
and reused, with a per-iteration shuffle keyed on dst. ``nodes.count()``
is the vertex-universe cardinality — dimension-table sized by
construction (driver-sized collect, same class as the BPE vocab winner,
operators/bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_open_source_spark.operators.caching import owned_persist
from etl_open_source_spark.operators.setjoin import candidate_pairs, verify, with_prefix

SCALE = 1_000_000_000


def pagerank_integer(
    nodes: DataFrame, edges: DataFrame, iters: int = 5, scale: int = SCALE
) -> DataFrame:
    """Fixed-iteration PageRank over ``nodes`` (column ``v``: bigint) and
    weighted ``edges`` (``src``, ``dst``, ``w``: bigint). Returns
    ``(v, r)`` with r the scaled-integer rank after ``iters`` rounds.
    Nodes with no out-edges leak their mass (standard non-teleporting
    dangling behavior) — identical in the SQL oracle."""
    n = nodes.count()
    if n == 0:
        # Empty vertex universe (e.g. an empty day of facts): PageRank of
        # nothing is nothing — return an empty (v, r) frame rather than
        # dividing the teleport mass by zero. Oracle mirrors (its node CTE
        # is empty, so every downstream join is too).
        return nodes.select("v", F.lit(None).cast("bigint").alias("r")).limit(0)
    base = (15 * scale) // (100 * n)
    e = owned_persist(edges.withColumn(
        "wout", F.sum("w").over(Window.partitionBy("src"))
    ))
    ranks = nodes.select("v", F.lit(scale // n).cast("bigint").alias("r"))
    for _ in range(iters):
        contrib = (
            ranks.join(e, ranks["v"] == e["src"])
            .select(F.col("dst").alias("v"), F.expr("(r * w) div wout").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "v", "left").select(
            "v",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            )
            .cast("bigint")
            .alias("r"),
        )
        # localCheckpoint each round, same as dedup.connected_components:
        # without it round N's logical plan nests rounds 1..N-1 and
        # Catalyst re-analysis goes superlinear once `iters` leaves the
        # single digits. Eager: the graph is
        # entity-sized (nation-level), so materializing each round is
        # cheap and keeps driver-side plan memory flat.
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Orient undirected edges (a, b) from the lower-degree endpoint to the
    higher-degree one (ties broken by id): after orientation every
    vertex's out-degree is O(√m), so wedge enumeration — the quadratic
    heart of triangle counting — is bounded per vertex no matter how
    skewed the raw degree distribution is (the hub that ruins the naive
    a<b<c join has huge IN-degree but tiny out-degree here). Standard
    MPC/vertex-ordering trick (Suri & Vassilvitskii's MR triangle
    counting). Input: one row per undirected edge with a < b."""
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(deg.withColumnsRenamed({"v": "a", "deg": "deg_a"}), "a")
        .join(deg.withColumnsRenamed({"v": "b", "deg": "deg_b"}), "b")
    )
    keep_ab = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(keep_ab, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(keep_ab, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census over an undirected edge list (a < b, one row
    per edge): nodes, edges, wedges (= Σ C(deg,2)), triangles, and the
    global clustering coefficient 3·tri/wedges.

    Count = wedge-close on the DEGREE-ORIENTED graph: enumerate wedges
    (src→x, src→y) off each oriented vertex — bounded O(√m) fan-out by
    construction — and close them against the oriented edge set. Each
    triangle has exactly one vertex whose two oriented out-edges form
    the wedge, so no triangle is double-counted and no /6 fixup is
    needed. Two shuffles (wedge build, close join); nothing quadratic in
    a hub's raw degree."""
    oriented = orient_by_degree(edges)
    w1 = oriented.select(F.col("src"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(F.col("x") < F.col("y"))
    # close the wedge: (x, y) must be an edge in EITHER orientation
    closing = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    ).unionAll(oriented.select(F.col("dst").alias("x"), F.col("src").alias("y")))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # coalesce: an EMPTY graph (no qualifying edges) must report 0 edges
    # and 0 wedges, not NULL — SUM over zero rows is NULL in both engines
    # and the convention must be pinned on both sides (adversarial
    # fixture's minimal star schema produces exactly this graph)
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("bigint").alias("n_edges"),
        F.coalesce(F.sum(F.expr("deg * (deg - 1) div 2")), F.lit(0))
        .cast("bigint")
        .alias("n_wedges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        # wedge-free graphs (isolated edges) have no closable paths:
        # coefficient is 0 by convention, and ANSI mode would otherwise
        # throw DIVIDE_BY_ZERO
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("clustering_coeff"),
    )


def link_prediction_jaccard(
    edges: DataFrame,
    max_degree: int | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Neighbor-set Jaccard link prediction: for every non-adjacent node
    pair at distance 2, score = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|.

    Input contract: a simple undirected graph as canonical ``(src < dst)``
    rows. Neighborhoods are SETS: a repeated edge counts once, in the
    degree as in the common count. Candidate pairs generate from the
    common-neighbor join (adjacency self-joined on the shared neighbor),
    so only distance-2 pairs are ever materialized — never the |V|² cross
    product. ``max_degree`` is the hub guard: a node
    adjacent to k others contributes O(k²) candidate pairs through the
    common-neighbor join, so hubs above the cap are excluded as *pivots*
    (they still count inside each endpoint's degree and in the existing-
    edge anti-join) — same skew-over-completeness stance as the LSH
    hot-bucket cap (operators/dedup.py) and the basket guard
    (operators/baskets.py).

    Plan: the ASYMMETRIC prefix-filter join of :mod:`operators.setjoin`
    over per-node neighbor sets:

    1. ONE aggregate per node computes BOTH the degree and the sorted
       capped-pivot neighbor set (hubs arrive as a broadcast left join and
       are skipped by collect_set's NULL drop).
    2. Prefix lemma, graph form: jaccard ≥ t means
       common ≥ t·(deg_a + deg_b − common), so common ≥
       (t/(1+t))·(deg_a+deg_b) ≥ (2t/(1+t))·n_small where n is the
       capped-set size (deg ≥ n always): smaller-prefix ⋈ larger-full.
       The score is filtered ROUNDED to 6 places, which admits a raw
       score down to t − 5e-7, so the fraction is cut for that t_eff.
    3. Exact verify per candidate with ``array_intersect`` on the two
       capped sets (common counts capped pivots only); degrees ride along
       on the same join-back."""
    adj = edges.selectExpr("src AS v", "dst AS nbr").unionAll(
        edges.selectExpr("dst AS v", "src AS nbr")
    )
    marked = adj.withColumn("__pivot_nbr", F.col("nbr"))
    if max_degree is not None:
        # Broadcast the HUB list and left-join a marker: hubs above the
        # cap are few by definition (that is what makes them hubs), so
        # the broadcast stays model-sized at any graph scale. A hub
        # neighbor still counts toward the node's DEGREE; it just never
        # enters the pivot set.
        hubs = (
            adj.groupBy("v")
            .agg(F.size(F.collect_set("nbr")).alias("deg"))
            .filter(F.col("deg") > max_degree)
            .select(F.col("v").alias("nbr"), F.lit(True).alias("__hub"))
        )
        marked = adj.join(F.broadcast(hubs), "nbr", "left").withColumn(
            "__pivot_nbr", F.when(F.col("__hub").isNull(), F.col("nbr"))
        )
    # one exchange: degree AND sorted capped-pivot set per node; sets, so
    # a repeated edge counts once
    nodes = marked.groupBy(F.col("v").alias("id")).agg(
        F.size(F.collect_set("nbr")).alias("deg"),
        F.sort_array(F.collect_set("__pivot_nbr")).alias("arr"),
    )
    t_eff = max(threshold - 5e-7, 0.0)
    nodes = with_prefix(nodes, 2.0 * t_eff / (1.0 + t_eff))
    non_edges = candidate_pairs(nodes, symmetric=False).join(
        edges.selectExpr("src AS id_a", "dst AS id_b"),
        ["id_a", "id_b"],
        "left_anti",
    )
    scored = (
        verify(non_edges, nodes, "deg")
        .withColumnRenamed("inter", "common")
        .filter(F.col("common") >= 1)
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold)
