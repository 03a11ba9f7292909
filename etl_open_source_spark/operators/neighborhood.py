"""Sorted-neighborhood blocking for near-duplicate detection.

[EXT] — the classic entity-resolution alternative to hash-based blocking
(MinHash LSH, SimHash bands in operators/dedup.py): sort records by a
normalization key and compare each record only against its w-1 successors
in the sort order. Candidate count is O(n*w) regardless of similarity
distribution, which makes cost *predictable* where LSH's depends on the
banding/threshold fit.

Distribution model: the sort is PER BLOCK (a coarse prefix of the sort
key), so each window is a per-partition operation — no global total order,
no single-partition window at scale. Pairs whose members fall in different
blocks are missed BY DESIGN (the standard blocked-SNM trade-off; the
multi-pass remedy is running again with a different key, exactly like
multi-band LSH). Block count grows with ``block_len``, so at 100 TB a
longer prefix keeps blocks executor-sized while the per-record work stays
O(w).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_open_source_spark.operators.text import ascii_fold, words_col


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    key_len: int = 16,
    block_len: int = 2,
    window: int = 4,
    threshold: float = 0.3,
    key: Column | None = None,
) -> DataFrame:
    """Candidate pairs from a sorted-neighborhood pass, verified by exact
    token-set Jaccard.

    Sort key = first ``key_len`` chars of the lowercased text; block =
    first ``block_len`` chars of that key. Within each block, records are
    ordered by (sort key, id) and each record pairs with its next
    ``window - 1`` successors. Jaccard is computed on distinct lowercased
    whitespace tokens; pairs below ``threshold`` are dropped.

    Shape: ONE shuffle (the per-block window sort). Pair generation is
    ``window - 1`` scan-local ``lead`` columns — no self-join anywhere —
    and the Jaccard verify is per-row array arithmetic. Output columns:
    ``id_a < id_b`` canonical, ``jaccard`` rounded to 6 places.
    """
    toks = F.array_distinct(words_col(text_col))
    sk = F.substring(
        ascii_fold(text_col) if key is None else key, 1, key_len
    )
    base = df.select(
        F.col(id_col).alias("__id"), sk.alias("__sk"), toks.alias("__toks")
    )
    w = Window.partitionBy(F.substring("__sk", 1, block_len)).orderBy(
        "__sk", "__id"
    )
    leads = base.select(
        "__id",
        "__toks",
        *[F.lead("__id", off).over(w).alias(f"__nid{off}") for off in range(1, window)],
        *[
            F.lead("__toks", off).over(w).alias(f"__ntoks{off}")
            for off in range(1, window)
        ],
    )
    neighbors = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(f"__nid{off}").isNotNull(),
                    F.struct(
                        F.col(f"__nid{off}").alias("nid"),
                        F.col(f"__ntoks{off}").alias("ntoks"),
                    ),
                )
                for off in range(1, window)
            ]
        )
    )
    pairs = leads.select(
        "__id", "__toks", F.explode(neighbors).alias("__n")
    )
    inter = F.size(F.array_intersect("__toks", F.col("__n.ntoks")))
    union = F.size("__toks") + F.size(F.col("__n.ntoks")) - inter
    jac = inter.cast("double") / union
    return (
        pairs.select(
            F.least("__id", F.col("__n.nid")).alias("id_a"),
            F.greatest("__id", F.col("__n.nid")).alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
