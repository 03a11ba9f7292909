"""Deterministic-sampling operator invariants (operators/sampling.py).

The property that matters at 100 TB: the sample is a pure function of row
KEYS — stable under repartitioning, re-runs, and corpus growth — unlike
df.sample(), whose per-partition RNG resplits with the input layout.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators.sampling import (
    det_hash,
    sample_stratified,
    sample_uniform,
    train_test_split,
)


def test_uniform_sample_stable_under_repartition(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    a = sorted(sample_uniform(l, keys, 0.05).select(*keys).collect())
    b = sorted(sample_uniform(l.repartition(7), keys, 0.05).select(*keys).collect())
    assert a == b and len(a) > 0
    # rate lands near the target (hash uniformity)
    n = l.count()
    assert 0.03 * n < len(a) < 0.07 * n


def test_uniform_sample_is_subset_monotone(spark, sf_dir):
    """Growing the corpus never changes old rows' membership: the 5% sample
    of a prefix equals the prefix-restriction of the full sample."""
    l = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    prefix = l.filter(F.col("l_orderkey") <= 500)
    a = sorted(sample_uniform(prefix, keys, 0.05).select(*keys).collect())
    full = sample_uniform(l, keys, 0.05).filter(F.col("l_orderkey") <= 500)
    b = sorted(full.select(*keys).collect())
    assert a == b


def test_uniform_sample_keeps_the_boundary_bucket(spark):
    """fraction 0.57 keeps buckets [0, 5700): 0.57 * 10_000 is
    5699.999999999999 in binary, so a truncating threshold dropped bucket
    5699. The key is found with a Python mirror of det_hash."""
    from etl_open_source_spark.operators.sampling import _A, _B, _P

    key = next(k for k in range(1_000_000) if ((k % _P) * _A + _B) % _P % 10_000 == 5699)
    df = spark.createDataFrame([(key,)], "k bigint")
    assert df.select(F.pmod(det_hash("k"), F.lit(10_000))).first()[0] == 5699
    assert sample_uniform(df, ["k"], 0.57).count() == 1


def test_stratified_exact_quota(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    got = (
        sample_stratified(o, ["o_orderpriority"], ["o_orderkey"], 0.1)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    want = {r["o_orderpriority"]: r["count"] for r in o.groupBy("o_orderpriority").count().collect()}
    assert len(got) == len(want)
    for r in got:
        assert r["count"] == math.ceil(0.1 * want[r["o_orderpriority"]])


def test_split_partitions_everything_and_is_stable(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    counts = {
        r["split"]: r["n"]
        for r in train_test_split(l, keys, fr)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n = l.count()
    assert sum(counts.values()) == n  # total partition, no row dropped
    for name, frac in fr.items():
        assert abs(counts[name] / n - frac) < 0.03
    # membership is key-pure: one specific row always lands in the same split
    row = train_test_split(l.repartition(5), keys, fr).filter(
        (F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 1)
    )
    row2 = train_test_split(l, keys, fr).filter(
        (F.col("l_orderkey") == 1) & (F.col("l_linenumber") == 1)
    )
    assert [r["split"] for r in row.collect()] == [r["split"] for r in row2.collect()]


def test_split_rejects_bad_fractions(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        train_test_split(l, ["l_orderkey"], {"a": 0.5, "b": 0.4})


def test_hash_fold_matches_sql_for_negative_keys(spark):
    """The 'any engine reproduces it' contract: Spark's pmod fold and the
    emitted SQL fold must agree for NEGATIVE keys too (SQL % takes the
    dividend's sign; the emitted SQL wraps every step non-negative)."""
    import duckdb

    from etl_open_source_spark.operators.sampling import sql_det_hash

    keys = [-5, -1, 0, 1, 42, -(10**12), 10**12, -987654321]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = {r["k"]: r["h"] for r in df.withColumn("h", det_hash("k")).collect()}
    sql = sql_det_hash("k")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    want = {k: h for k, h in con.sql(f"SELECT k, {sql} AS h FROM t").fetchall()}
    assert got == want


def test_single_key_hash_spreads(spark):
    """Regression: the fold must mix even ONE small integer key — an
    add-only fold maps doc_id -> doc_id and every small id lands in bucket
    zero's neighborhood."""
    df = spark.range(0, 1000).withColumn("b", F.pmod(det_hash("id"), F.lit(10)))
    counts = [r["count"] for r in df.groupBy("b").count().collect()]
    assert len(counts) == 10
    assert max(counts) < 3 * min(counts)
