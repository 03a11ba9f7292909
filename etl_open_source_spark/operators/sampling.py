"""Deterministic sampling operators for training-corpus pipelines.

The reference has no sampling at all (its transform vocabulary is
"Filtre, map, merge" — structure.txt:24); at 100 TB, downsampling is the
FIRST operator a corpus pipeline runs, and it must be

- **deterministic** (same rows on every run / engine — reproducible
  datasets, resumable pipelines), and
- **narrow** (a scan-local filter; no shuffle, no global coordination).

So instead of ``df.sample()`` (seeded per-partition RNG — resplitting the
input changes the sample) every operator here keys off a *pure-arithmetic
hash of the row key*: ``h = fold(key_i) mod P`` with the Knuth
multiplicative constant. The same expression is emitted to the SQL oracle,
so Spark and DuckDB pick bit-identical samples — and on a cluster the
filter pushes to the scan and costs zero shuffles.

Stratified / fixed-k variants need one window (= one shuffle on the
stratum key) — still the minimum possible.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth multiplicative constant, an LCG offset, and a large prime modulus.
# Keys are pre-reduced mod P, so (h + key) < 2P ≈ 2e9 and the product stays
# < 2^63 — no long overflow under ANSI mode even for 64-bit row keys at
# 100 TB scale (cf. operators/dedup.py minhash constants).
_A = 2654435761
_B = 1013904223
_P = 1_000_000_007


def det_hash(*cols: Column | str) -> Column:
    """Order-sensitive fold of the key columns into [0, P): a deterministic
    uniform-ish bucket usable as a sampling coin. Each step multiplies —
    ``h = ((h + key mod P) * A + B) mod P`` — so even a single small int key
    is spread over the full range (a plain add-fold would degenerate to the
    identity there). Pure int64 arithmetic — NOT xxhash64/md5, so any engine
    (DuckDB, Trino, …) reproduces it."""
    h = F.lit(0).cast("bigint")
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        h = F.pmod(
            (h + F.pmod(col.cast("bigint"), F.lit(_P))) * F.lit(_A) + F.lit(_B), F.lit(_P)
        )
    return h


def sql_det_hash(*cols: str) -> str:
    """DuckDB-side mirror of :func:`det_hash` (same fold, same constants).
    Each ``%`` is wrapped ``((x % P) + P) % P`` because SQL ``%`` takes the
    dividend's sign while Spark's ``pmod`` is always non-negative — without
    the wrap, negative keys would sample differently per engine."""
    expr = "CAST(0 AS BIGINT)"
    for c in cols:
        inner = f"(((CAST({c} AS BIGINT) % {_P}) + {_P}) % {_P})"
        step = f"(({expr} + {inner}) * {_A} + {_B})"
        expr = f"((({step} % {_P}) + {_P}) % {_P})"
    return expr


_INTEGRAL = {"ByteType", "ShortType", "IntegerType", "LongType"}


def _require_integer_keys(df: DataFrame, keys: list[str]) -> None:
    """det_hash folds keys through CAST(... AS BIGINT): a string key would
    raise under ANSI mode or — worse — cast to NULL with ANSI off, hashing
    every row identically and silently destroying the sample (uniform
    keeps ~0 rows; train_test_split dumps everything in the last split).
    Fail loudly instead; hash string ids to a numeric surrogate first
    (e.g. xxhash64 — engine-specific, so the DuckDB mirror no longer
    applies) or carry a numeric key."""
    types = {f.name: type(f.dataType).__name__ for f in df.schema.fields}
    bad = [k for k in keys if types.get(k) not in _INTEGRAL]
    if bad:
        raise ValueError(
            f"deterministic sampling requires integer key columns; got "
            f"{ {k: types.get(k) for k in bad} } — supply a numeric "
            f"surrogate (see operators/sampling.py _require_integer_keys)"
        )


def sample_uniform(df: DataFrame, keys: list[str], fraction: float) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its key hashes into
    the first ``fraction`` of 10,000 buckets. Scan-local — no shuffle."""
    _require_integer_keys(df, keys)
    # round, don't truncate: int(0.57 * 10_000) is 5699 (cf. cluster_safe_split)
    return df.filter(F.pmod(det_hash(*keys), F.lit(10_000)) < round(fraction * 10_000))


def sample_weighted(df: DataFrame, keys: list[str], weight: Column) -> DataFrame:
    """Per-row acceptance probability ``weight`` (clamped to [0,1]) — e.g.
    quality-weighted corpus sampling. Deterministic: the coin is the key
    hash mapped to [0,1)."""
    _require_integer_keys(df, keys)
    coin = F.pmod(det_hash(*keys), F.lit(10_000)) / F.lit(10_000.0)
    return df.filter(coin < F.least(F.lit(1.0), weight))


def sample_stratified(
    df: DataFrame, strata: list[str], keys: list[str], fraction: float
) -> DataFrame:
    """Proportional per-stratum sample: exactly ``ceil(fraction * n_g)``
    rows from each stratum g, chosen by hash order (deterministic). One
    shuffle on the stratum key."""
    _require_integer_keys(df, keys)
    w = Window.partitionBy(*strata)
    ordered = w.orderBy(det_hash(*keys).asc(), *[F.col(k).asc() for k in keys])
    return (
        df.withColumn("__rn", F.row_number().over(ordered))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__rn") <= F.ceil(F.col("__n") * F.lit(fraction)))
        .drop("__rn", "__n")
    )


def sample_fixed_k(
    df: DataFrame, strata: list[str], keys: list[str], k: int
) -> DataFrame:
    """Reservoir-style fixed-k per-stratum sample: exactly ``min(k, n_g)``
    rows from each stratum g, chosen by hash order. The deterministic
    twin of single-pass reservoir sampling — ordering by a uniform hash
    and keeping the first k IS a uniform k-subset, but (unlike a seeded
    reservoir) the same rows win on every run, engine, and partitioning.
    One shuffle on the stratum key; the window is top-k-limited
    (WindowGroupLimit pushes rank<=k into the sort), so no stratum ever
    materializes beyond k rows after the shuffle."""
    _require_integer_keys(df, keys)
    ordered = Window.partitionBy(*strata).orderBy(
        det_hash(*keys).asc(), *[F.col(c).asc() for c in keys]
    )
    return (
        df.withColumn("__rn", F.row_number().over(ordered))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def train_test_split(
    df: DataFrame, keys: list[str], fractions: dict[str, float]
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named split by hash
    bucket (e.g. {'train': .8, 'val': .1, 'test': .1}). Deterministic and
    stable under re-partitioning/re-runs — rows never migrate between
    splits when the corpus grows, because the bucket depends only on the
    key. Scan-local."""
    if not math.isclose(sum(fractions.values()), 1.0, abs_tol=1e-9):
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    _require_integer_keys(df, keys)
    bucket = F.pmod(det_hash(*keys), F.lit(10_000))
    expr = None
    edge = 0.0
    for name, frac in fractions.items():
        edge += frac
        cond = bucket < int(round(edge * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # floating-edge guard: the last bucket takes any remainder
    last = list(fractions)[-1]
    return df.withColumn("split", expr.otherwise(last))
