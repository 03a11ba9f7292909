"""Distributed BPE tokenizer training over a document corpus.

The scalable formulation (what real tokenizer trainers do): collapse the
corpus to a WORD HISTOGRAM first — one corpus-sized shuffle — then run
the merge loop over the histogram, which is vocabulary-sized (≤ a few
million rows at 100 TB corpus scale), not corpus-sized. Each merge round
is one explode + groupBy over the histogram plus a 1-row collect of the
argmax pair; the merge itself is an in-row left-to-right fold (greedy
leftmost application, standard BPE semantics). Iterative → rows-only for
the driver; pinned against a reference Python trainer in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_open_source_spark.operators.text import ascii_fold as _fold


def word_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) over whitespace-split lowercased text."""
    return (
        df.select(F.explode(F.split(_fold(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bigram_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol-pair counts over (symbols, cnt) rows."""
    pair = F.explode(
        F.expr(
            "transform(sequence(1, size(symbols) - 1), "
            "i -> struct(element_at(symbols, i) AS left, element_at(symbols, i + 1) AS right))"
        )
    )
    return (
        vocab.filter(F.size("symbols") >= 2)
        .select(pair.alias("p"), "cnt")
        .groupBy("p.left", "p.right")
        .agg(F.sum("cnt").alias("freq"))
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy leftmost merge of the (left, right) symbol pair in every
    word, as a left-to-right fold: if the accumulator ends with `left` and
    the next symbol is `right`, replace the tail with the concatenation —
    'aaa' under (a,a) becomes [aa, a], matching reference BPE."""
    l, r = F.lit(left), F.lit(right)
    merged = F.aggregate(
        F.col("symbols"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) >= 1) & (F.element_at(acc, -1) == l) & (x == r),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(l, r))),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return vocab.select(merged.alias("symbols"), "cnt")


def bpe_train(
    df: DataFrame, text_col: str, num_merges: int = 50, min_freq: int = 2
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merge rules; returns [(rank, left, right,
    freq)]. Ties broken deterministically by (freq desc, left, right).
    Stops early when no pair reaches ``min_freq``.

    The histogram is checkpointed per round (the same lineage truncation
    as dedup.connected_components' star rounds); each round's shuffle is
    vocabulary-sized."""
    vocab = (
        word_histogram(df, text_col)
        .select(F.expr("transform(split(word, ''), c -> c)").alias("symbols"), "cnt")
        .localCheckpoint(eager=True)
    )
    rules: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        top = (
            _bigram_counts(vocab)
            .orderBy(F.col("freq").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["freq"] < min_freq:
            break
        left, right, freq = top[0]["left"], top[0]["right"], int(top[0]["freq"])
        rules.append((rank, left, right, freq))
        vocab = _apply_merge(vocab, left, right).localCheckpoint(eager=True)
    return rules


def bpe_segment(word: str, rules: list[tuple[int, str, str, int]]) -> list[str]:
    """Driver-side reference encoder: apply learned merges in rank order
    (greedy leftmost per rule) — for tests and small-scale encoding."""
    symbols = list(word)
    for _, left, right, _ in rules:
        i, out = 0, []
        while i < len(symbols):
            if i + 1 < len(symbols) and symbols[i] == left and symbols[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return symbols
