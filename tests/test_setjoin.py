"""Contracts of the prefix-filter set-similarity join
(operators/setjoin.py) as its four consumers expose them: threshold
rounding, set semantics for repeated input, and duplicate ids."""

from __future__ import annotations

from etl_open_source_spark.operators.dedup import minhash_lsh_pairs
from etl_open_source_spark.operators.graph import link_prediction_jaccard


def test_link_prediction_keeps_pair_that_rounds_up_to_threshold(spark):
    """The score is filtered ROUNDED to 6 places, so a raw Jaccard just
    below the threshold still qualifies: 4/6 rounds to 0.666667. The
    prefix filter must be cut for that effective threshold, or the pair
    never becomes a candidate."""
    edges = [(1, d) for d in (3, 10, 11, 12, 13)] + [(2, d) for d in (4, 10, 11, 12, 13)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.id_a, r.id_b): (r.common, r.jaccard)
        for r in link_prediction_jaccard(df, max_degree=None, threshold=0.666667).collect()
    }
    assert got.get((1, 2)) == (4, 0.666667), got


def test_link_prediction_repeated_edge_counts_once(spark):
    """Neighborhoods are sets: repeating an edge (multigraph input) must
    give exactly the scores of the simple graph, capped or not."""
    simple = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 5), (4, 5), (5, 6), (1, 7)]
    repeated = simple + [(1, 3), (1, 3), (4, 5)]

    def scores(edges, max_degree):
        df = spark.createDataFrame(edges, ["src", "dst"])
        return sorted(tuple(r) for r in link_prediction_jaccard(df, max_degree).collect())

    for max_degree in (None, 2):
        assert scores(repeated, max_degree) == scores(simple, max_degree)


def test_minhash_duplicate_id_rows_verified_per_row(spark):
    """Duplicate-id contract (operators/setjoin.py): rows sharing an id are
    not merged into one set — each row is verified on its own, so a doc
    ingested twice yields its pair twice with the per-row score, and never
    pairs with itself. Capped and uncapped MinHash must agree on it."""
    a = " ".join(f"w{i}" for i in range(12))  # 10 shingles
    b = " ".join(f"w{i}" for i in range(11)) + " x"  # shares 9 -> J = 9/11
    df = spark.createDataFrame(
        [(1, a), (1, a), (2, b), (3, "p q r s t u v")], "doc_id long, text string"
    )
    for cap in (None, 100):
        got = sorted(
            tuple(r)
            for r in minhash_lsh_pairs(
                df, "doc_id", "text", threshold=0.5, max_doc_freq=cap
            ).collect()
        )
        assert [(x, y) for x, y, _ in got] == [(1, 2), (1, 2)], (cap, got)
        assert all(abs(j - 9 / 11) < 1e-12 for _, _, j in got), (cap, got)
