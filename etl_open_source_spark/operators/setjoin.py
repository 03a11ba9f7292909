"""Exact set-similarity join with a prefix filter (AllPairs / PPJoin:
Bayardo et al., WWW 2007; Xiao et al., WWW 2008) — the one copy shared by
n-gram Jaccard, n-gram containment, the MinHash verify and link
prediction.

Input is a SETS frame ``(id, arr, ...)``: one sorted, duplicate-free
array of long tokens per row. Any global total order on tokens satisfies
the prefix lemma, so callers sort by the token value itself. Three steps:

1. :func:`with_prefix` — the prefix slice. If a pair must share at least
   ``frac·|x|`` tokens of set x, its smallest shared token sits within x's
   first ``|x| - ⌈frac·|x|⌉ + 1`` tokens (otherwise every shared token
   lies among x's last ``⌈frac·|x|⌉ - 1`` tokens — too few).
2. :func:`candidate_pairs` — explode and equi-join on the token, in the
   lemma's two forms, ending in ``distinct``:

   - ``symmetric=True`` (Jaccard): the bound holds for BOTH sets, so
     prefix ⋈ prefix;
   - ``symmetric=False`` (containment, link prediction): it holds only for
     the SMALLER set (ties by id) — a tiny set can sit in any suffix of a
     huge one — so smaller-prefix ⋈ larger-full.
3. :func:`verify` — join both arrays back and count ``array_intersect``.
   No per-pair count aggregate and no shuffle of the pair multiset.

Duplicate-id contract: ids are expected to be unique per row. Rows that
share an id are NOT merged into one set. Each row is its own set, rows
with the same id are never paired with each other, and a candidate pair
(x, y) is verified once per combination of rows carrying x and y — so a
doubled input row yields a doubled output row with the same score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_open_source_spark.operators.caching import owned_persist


def with_prefix(sets: DataFrame, frac: float) -> DataFrame:
    """Persisted ``sets`` plus ``n = size(arr)`` and the ``prefix`` slice
    for a required overlap of ``frac·n`` tokens.

    ⌈frac·n⌉ must never round UP past the exact value — that would
    SHORTEN the prefix and could drop a boundary pair — so an epsilon is
    subtracted first: an FP product like 3.0000000000000004 still ceils to
    3, and a true non-integer product keeps its ceil or lengthens the
    prefix by one (a superset, still exact). The epsilon is SIZE-RELATIVE
    (1e-9 + n·1e-15): frac·n's FP error is ~n·2⁻⁵³, so a constant alone
    could under-guard sets beyond ~10⁷ tokens. A slice longer than the
    array (frac ≤ 0) is the whole array."""
    return owned_persist(
        sets.select(
            "*",
            F.size("arr").alias("n"),
            F.expr(
                f"slice(arr, 1, size(arr) - CAST(CEIL({frac} * size(arr)"
                f" - 1e-9 - size(arr) * 1e-15) AS INT) + 1)"
            ).alias("prefix"),
        )
    )


def candidate_pairs(sets: DataFrame, symmetric: bool) -> DataFrame:
    """Distinct candidate ``(id_a, id_b)`` with ``id_a < id_b`` from a
    :func:`with_prefix` frame: a superset of every pair meeting the bound
    the prefix was cut for."""
    a = sets.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.explode("prefix").alias("tok")
    )
    b = sets.select(
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
        F.explode("prefix" if symmetric else "arr").alias("tok"),
    )
    a_first = F.col("id_a") < F.col("id_b")
    if not symmetric:  # a must be the smaller set
        a_first = (F.col("n_a") < F.col("n_b")) | ((F.col("n_a") == F.col("n_b")) & a_first)
    return (
        a.join(b, "tok")
        .filter(a_first)
        .select(F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b"))
        .distinct()
    )


def verify(pairs: DataFrame, sets: DataFrame, *carry: str) -> DataFrame:
    """Exact overlap of each ``(id_a, id_b)`` pair: joins both arrays back
    and adds ``n_a``, ``n_b``, ``inter = |a ∩ b|`` and, for every column
    named in ``carry``, its ``<col>_a`` / ``<col>_b`` copies. ``sets``
    needs only ``(id, arr)``; the arrays need not be sorted here."""

    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("id").alias(f"id_{s}"),
            F.col("arr").alias(f"__arr_{s}"),
            F.size("arr").alias(f"n_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("__arr_a", "__arr_b")))
        .drop("__arr_a", "__arr_b")
    )
