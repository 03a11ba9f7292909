"""Property-based tests (hypothesis) for the custom algorithms — the
operators whose correctness does NOT come free from Catalyst: as-of join,
merge upsert, cron next-run.

Spark jobs per example are expensive, so examples are kept small and few;
the properties themselves are exhaustive over the generated space.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # soak/axis tier: run with `pytest -m slow`


from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_open_source_spark.operators.asof import asof_join
from etl_open_source_spark.operators.merge import merge_upsert
from etl_open_source_spark.plans.cron import next_run_from_cron
from tests.oracle_utils import fixture_dir

# ------------------------------------------------------------------ cron


@given(
    minute=st.integers(0, 59),
    now=st.datetimes(
        min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)
    ),
)
@settings(max_examples=200, deadline=None)
def test_cron_fixed_minute_properties(minute, now):
    nxt = next_run_from_cron(f"{minute} * * * *", now)
    assert nxt > now
    assert nxt.minute == minute and nxt.second == 0
    assert nxt - now <= timedelta(hours=1)


@given(
    n=st.sampled_from([1, 2, 5, 10, 15, 30]),
    now=st.datetimes(min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)),
)
@settings(max_examples=200, deadline=None)
def test_cron_step_properties(n, now):
    nxt = next_run_from_cron(f"*/{n} * * * *", now)
    assert nxt > now
    assert nxt.minute % n == 0
    assert nxt - now <= timedelta(minutes=n + 1)


# ----------------------------------------------------------- as-of join


def _naive_asof(left_rows, right_rows):
    """Per-row reference implementation: latest right with ts <= left ts."""
    out = {}
    for lid, key, lts in left_rows:
        best = None
        for key_r, rts, val in right_rows:
            if key_r == key and rts <= lts and (best is None or rts > best[0]):
                best = (rts, val)
        out[lid] = best
    return out


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=8
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=8
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_naive(spark_prop, left, right):
    spark = spark_prop
    base = datetime(2024, 1, 1)
    left_rows = [
        (i, key, base + timedelta(seconds=ts)) for i, (key, ts) in enumerate(left)
    ]
    # dedupe right on (key, ts) deterministically: keep max value
    seen = {}
    for j, (key, ts) in enumerate(right):
        seen[(key, ts)] = max(seen.get((key, ts), -1), j * 10)
    right_rows = [
        (key, base + timedelta(seconds=ts), float(v)) for (key, ts), v in seen.items()
    ]
    ldf = spark.createDataFrame(left_rows, "lid int, key int, lts timestamp")
    rdf = spark.createDataFrame(right_rows, "key int, rts timestamp, val double")
    got = {
        r.lid: (r.rts, r.val)
        for r in asof_join(
            ldf, rdf, by=["key"], left_on="lts", right_on="rts", right_values=["val"]
        ).collect()
    }
    want = _naive_asof(left_rows, right_rows)
    for lid, best in want.items():
        if best is None:
            assert got[lid] == (None, None)
        else:
            assert got[lid] == best


def _naive_asof_tol(left_rows, right_rows, tol_seconds):
    """Reference with tolerance + NULL payloads: latest right with
    ``lts - tol <= rts <= lts``; a matched row with a NULL value stays a
    match (non-NULL rts, NULL val) — distinct from no-match (both NULL)."""
    out = {}
    for lid, key, lts in left_rows:
        best = None
        for key_r, rts, val in right_rows:
            if key_r == key and rts <= lts and (best is None or rts > best[0]):
                best = (rts, val)
        if best is not None and tol_seconds is not None:
            if best[0] < lts - timedelta(seconds=tol_seconds):
                best = None
        out[lid] = best
    return out


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=8
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.booleans()),
        min_size=0,
        max_size=8,
    ),
    tol=st.sampled_from([None, 5, 20]),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_null_payloads_and_tolerance(spark_prop, left, right, tol):
    """Regression for two foot-guns: (1) legitimately-NULL right payloads
    must be carried as NULLs of the matched row, not skipped in favor of an
    older non-NULL value; (2) tolerance must null ALL right columns of a
    too-old match, payload included (the old per-column loop read the
    already-nulled timestamp and kept stale payloads)."""
    spark = spark_prop
    base = datetime(2024, 1, 1)
    left_rows = [
        (i, key, base + timedelta(seconds=ts)) for i, (key, ts) in enumerate(left)
    ]
    seen = {}
    for j, (key, ts, is_null) in enumerate(right):
        seen[(key, ts)] = None if is_null else float(j * 10)
    right_rows = [
        (key, base + timedelta(seconds=ts), v) for (key, ts), v in seen.items()
    ]
    ldf = spark.createDataFrame(left_rows, "lid int, key int, lts timestamp")
    rdf = spark.createDataFrame(right_rows, "key int, rts timestamp, val double")
    got = {
        r.lid: (r.rts, r.val)
        for r in asof_join(
            ldf,
            rdf,
            by=["key"],
            left_on="lts",
            right_on="rts",
            right_values=["val"],
            tolerance=None if tol is None else f"{tol} seconds",
        ).collect()
    }
    want = _naive_asof_tol(left_rows, right_rows, tol)
    for lid, best in want.items():
        if best is None:
            assert got[lid] == (None, None)
        else:
            assert got[lid] == best


def test_asof_join_null_event_times(spark_prop):
    """NULL event times on either side never produce a match (DuckDB ASOF
    ``l.ts >= r.ts`` is NULL-falsy): a right row with NULL rts must not be
    carried onto any left row, and a left row with NULL lts matches
    nothing."""
    spark = spark_prop
    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(0, 1, base), (1, 1, None), (2, 2, base)],
        "lid int, key int, lts timestamp",
    )
    # key 1: one real + one NULL-ts right row; key 2: ONLY a NULL-ts row
    rdf = spark.createDataFrame(
        [(1, base, 10.0), (1, None, 99.0), (2, None, 77.0)],
        "key int, rts timestamp, val double",
    )
    got = {
        r.lid: (r.rts, r.val)
        for r in asof_join(
            ldf, rdf, by=["key"], left_on="lts", right_on="rts", right_values=["val"]
        ).collect()
    }
    assert got[0] == (base, 10.0)  # real right row still matches
    assert got[1] == (None, None)  # NULL left ts: no match
    assert got[2] == (None, None)  # only NULL-ts right rows: no match


def test_asof_join_internal_name_collision(spark_prop):
    """Left/right columns named like the operator's working columns
    (__r/__rts/__ts/__tag) must survive untouched — internal names are
    generated collision-free, not reserved."""
    spark = spark_prop
    base = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(0, 1, base + timedelta(seconds=5), "keepme", 7)],
        "lid int, key int, lts timestamp, __ts string, __tag int",
    )
    rdf = spark.createDataFrame(
        [(1, base, 10.0, "rkeep")],
        "key int, rts timestamp, val double, __r string",
    )
    row = asof_join(
        ldf,
        rdf,
        by=["key"],
        left_on="lts",
        right_on="rts",
        right_values=["val", "__r"],
    ).collect()[0]
    assert row["__ts"] == "keepme" and row["__tag"] == 7
    assert row["val"] == 10.0 and row["__r"] == "rkeep"


# ---------------------------------------------------------------- scd2


def test_scd2_all_null_update_closes_version(spark_prop):
    """An update that sets every tracked attr to NULL is a real change, not
    a no-match: the current version must close and a NULL-attr version must
    open (regression for the attr-non-nullness match heuristic)."""
    from etl_open_source_spark.operators.scd import scd2_apply

    cur = spark_prop.createDataFrame(
        [(1, "a@x.com", "2020-01-01 00:00:00", "2200-01-01 00:00:00", True)],
        "id int, email string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "id",
        "email",
        "CAST(valid_from AS TIMESTAMP) valid_from",
        "CAST(valid_to AS TIMESTAMP) valid_to",
        "is_current",
    )
    upd = spark_prop.createDataFrame([(1, None)], "id int, email string")
    out = scd2_apply(cur, upd, ["id"], ["email"], "2021-06-01 00:00:00")
    rows = sorted(out.collect(), key=lambda r: (r.valid_from, r.is_current))
    assert len(rows) == 2
    closed, opened = rows
    assert closed.is_current is False and str(closed.valid_to).startswith("2021-06-01")
    assert opened.is_current is True and opened.email is None


# --------------------------------------------------------------- merge


@given(
    target_keys=st.sets(st.integers(0, 20), min_size=1, max_size=10),
    update_keys=st.sets(st.integers(0, 25), min_size=0, max_size=10),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_upsert_properties(spark_prop, target_keys, update_keys):
    spark = spark_prop
    t = spark.createDataFrame([(k, "old") for k in target_keys], "k int, v string")
    u = spark.createDataFrame([(k, "new") for k in update_keys], "k int, v string")
    out = {r.k: r.v for r in merge_upsert(t, u, ["k"]).collect()}
    assert set(out) == target_keys | update_keys  # no loss, no phantom keys
    for k in update_keys:
        assert out[k] == "new"  # updates win
    for k in target_keys - update_keys:
        assert out[k] == "old"  # untouched rows survive


def test_normalize_url_idempotent(spark_prop):
    """normalize_url(normalize_url(x)) == normalize_url(x) over messy
    generated URLs — canonicalization must be a fixpoint."""
    from pyspark.sql import functions as F

    from etl_open_source_spark.operators.curation import normalize_url

    urls = [
        "HTTPS://WWW.Ex.COM:443/A/b/?utm_source=x&q=1#f",
        "http://ex.com:80/",
        "https://ex.com/path/",
        "HTTP://WWW.A.B.C:80/p?utm_a=1&utm_b=2&keep=3",
        "https://ex.com/p?utm_only=1",
        "ftp://Files.Ex.COM/Dir/",
        "https://ex.com",
    ]
    df = spark_prop.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(normalize_url(F.col("url")).alias("n1"))
    twice = once.select(F.col("n1"), normalize_url(F.col("n1")).alias("n2"))
    rows = twice.collect()
    for r in rows:
        assert r.n1 == r.n2, (r.n1, r.n2)


def test_letterbox_hypothesis_bounds():
    from hypothesis import given, strategies as st

    from etl_open_source_spark.operators.multimodal import letterbox_dims

    @given(
        st.integers(min_value=1, max_value=20000),
        st.integers(min_value=1, max_value=20000),
        st.integers(min_value=8, max_value=2048),
        st.integers(min_value=8, max_value=2048),
    )
    def check(sw, sh, tw, th):
        ow, oh = letterbox_dims(sw, sh, tw, th)
        assert 1 <= ow <= tw and 1 <= oh <= th
        # at least one dimension pins to the target (max-fit, not fit-in-half)
        assert ow == tw or oh == th

    check()


# ------------------------------------------------ dedup skew guards


def _skew_corpus(spark):
    """Adversarial corpus for the dedup guards: a 600-doc byte-identical
    flood (worst LSH input — every band of every pair agrees), 100 docs
    sharing a power-law boilerplate prefix, and 10 planted genuine
    near-dup pairs (~0.83 n-gram Jaccard, pair-unique vocabulary)."""
    flood = [
        (i, "the quick brown fox jumps over the lazy dog again and again")
        for i in range(600)
    ]
    boiler = [
        (
            1000 + i,
            f"terms of service all rights reserved u{i}a u{i}b u{i}c u{i}d",
        )
        for i in range(100)
    ]
    planted = []
    for p in range(10):
        shared = " ".join(f"p{p}w{k}" for k in range(12))
        planted.append((2000 + 2 * p, shared + f" xa{p}"))
        planted.append((2000 + 2 * p + 1, shared + f" xb{p}"))
    return spark.createDataFrame(
        flood + boiler + planted, ["doc_id", "text"]
    )


def test_lsh_bucket_cap_bounds_candidates_and_keeps_recall(spark_prop):
    """With ``max_bucket_size`` on, the LSH candidate-pair count must
    collapse from quadratic-in-the-flood to a small bounded set, and
    every planted non-degenerate near-dup pair must still be found —
    the pinned evidence behind the guard's 100 TB claim."""
    from etl_open_source_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
        shingle_positions,
    )

    df = _skew_corpus(spark_prop)
    sig = minhash_signatures(shingle_positions(df, "doc_id", "text", 3)).persist()
    uncapped = lsh_candidate_pairs(sig, max_bucket_size=None).count()
    capped = lsh_candidate_pairs(sig, max_bucket_size=50).count()
    sig.unpersist()
    # without the cap the flood alone is quadratic: C(600, 2) pairs
    assert uncapped >= 600 * 599 // 2
    # with it: flood buckets (size 600 > 50) are gone entirely; what is
    # left is the planted pairs plus incidental boilerplate collisions
    assert capped <= 3000, capped
    assert capped * 20 <= uncapped, (capped, uncapped)

    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=50
    ).toPandas()
    assert not ((pairs.id_a < 600) & (pairs.id_b < 600)).any()
    for p in range(10):
        a, b = 2000 + 2 * p, 2000 + 2 * p + 1
        assert ((pairs.id_a == a) & (pairs.id_b == b)).any(), (a, b)


def test_ngram_doc_freq_cap_bounds_postings_and_keeps_recall(spark_prop):
    """``max_doc_freq`` must bound every posting list of the exact
    inverted index (the O(sum postings^2) join driver) under power-law
    shingle skew, while pair-unique planted dup shingles (doc freq 2)
    pass through untouched — exact Jaccard on them is unaffected."""
    from etl_open_source_spark.operators.dedup import (
        _doc_sets,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    df = _skew_corpus(spark_prop)
    capped_sets = _doc_sets(df, "doc_id", "text", 3, max_doc_freq=50)
    capped_sh = capped_sets.select(F.explode("arr").alias("shingle"))
    max_posting = (
        capped_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert max_posting <= 50  # uncapped: the flood shingles post 600 each

    pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, max_doc_freq=50
    ).toPandas()
    assert not ((pairs.id_a < 600) & (pairs.id_b < 600)).any()
    for p in range(10):
        a, b = 2000 + 2 * p, 2000 + 2 * p + 1
        got = pairs[(pairs.id_a == a) & (pairs.id_b == b)]
        assert len(got) == 1, (a, b)
        # 12 shared words -> 10 shared 3-shingles of 11 each: J = 10/12
        assert abs(got.jaccard.iloc[0] - 10 / 12) < 1e-9


# ------------------------------------------ maintenance: snapshot diff


@given(
    old_rows=st.dictionaries(
        st.integers(0, 15), st.one_of(st.integers(0, 3), st.none()), max_size=10
    ),
    new_rows=st.dictionaries(
        st.integers(0, 15), st.one_of(st.integers(0, 3), st.none()), max_size=10
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_snapshot_diff_roundtrip(spark_prop, old_rows, new_rows):
    """diff(old, new) applied back onto old reconstructs new EXACTLY —
    snapshot_diff and changelog-apply are inverses, over random snapshots
    including NULL values (null-safe compare) and disjoint/overlapping key
    sets. Also: unchanged keys never appear in the diff (no write
    amplification at 100 TB — the whole point of diffing snapshots)."""
    from etl_open_source_spark.operators.maintenance import snapshot_diff

    spark = spark_prop
    old = spark.createDataFrame(list(old_rows.items()), "k int, v int")
    new = spark.createDataFrame(list(new_rows.items()), "k int, v int")
    diff = snapshot_diff(old, new, keys=["k"], compare=["v"]).collect()

    rebuilt = dict(old_rows)
    for r in diff:
        if r.change_type == "delete":
            assert r.k in old_rows and r.k not in new_rows
            rebuilt.pop(r.k)
        elif r.change_type == "insert":
            assert r.k not in old_rows and r.k in new_rows
            rebuilt[r.k] = r.new_v
        else:
            assert r.change_type == "update"
            assert old_rows[r.k] != new_rows[r.k]  # never a no-op update
            rebuilt[r.k] = r.new_v
    assert rebuilt == new_rows
    # unchanged keys are absent from the changelog
    diff_keys = {r.k for r in diff}
    for k in set(old_rows) & set(new_rows):
        if old_rows[k] == new_rows[k]:
            assert k not in diff_keys


# --------------------------------------- maintenance: scd2 point-in-time


@given(
    cuts=st.lists(st.integers(1, 99), min_size=0, max_size=3, unique=True),
    fact_ts=st.lists(st.integers(0, 99), min_size=1, max_size=8),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_scd2_lookup_exactly_one_version(spark_prop, cuts, fact_ts):
    """With a dim whose versions tile [0, 100) without gaps or overlaps
    (the invariant scd2_apply maintains), every fact joins EXACTLY one
    version — no fact loss, no fan-out — and it is the version a naive
    bisect picks. Validity bounds here are ints: the operator is
    type-generic over any ordered bound."""
    from etl_open_source_spark.operators.maintenance import scd2_lookup

    spark = spark_prop
    bounds = [0] + sorted(cuts) + [100]
    dim_rows = [
        (1, i, bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)
    ]
    dim = spark.createDataFrame(
        dim_rows, "dk int, version int, valid_from int, valid_to int"
    )
    facts = spark.createDataFrame(
        [(j, 1, ts) for j, ts in enumerate(fact_ts)], "fid int, fk int, ts int"
    )
    out = scd2_lookup(
        facts, dim, fact_key="fk", dim_key="dk", fact_ts="ts", how="inner"
    ).collect()
    assert len(out) == len(fact_ts)  # one row per fact: no loss, no fan-out
    expect = {}
    for j, ts in enumerate(fact_ts):
        expect[j] = max(i for i in range(len(bounds) - 1) if bounds[i] <= ts)
    for r in out:
        assert r.version == expect[r.fid], (r, bounds)


# ------------------------------------------- maintenance: compaction


def test_compact_parquet_size_targeted(spark_prop, tmp_path):
    """Size-targeted compaction: output file count == ceil(src_bytes /
    target) and the data survives bit-exactly (count + sum). The explicit
    num_files mode is covered by q_compact_files' oracle row."""
    import math
    import os

    from pyspark.sql import functions as F

    from etl_open_source_spark.operators.maintenance import compact_parquet

    spark = spark_prop
    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 5000).withColumn("v", F.col("id") * 3)
    df.repartition(8).write.parquet(src)
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    target = total // 3 + 1
    n = compact_parquet(spark, src, dst, target_file_bytes=target)
    assert n == max(1, math.ceil(total / target))
    back = spark.read.parquet(dst)
    agg = back.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    ).collect()[0]
    assert agg.n == 5000 and agg.s == sum(3 * i for i in range(5000))


# ------------------------------------------- basket pair-mining guard


def test_basket_cap_drops_degenerate_keeps_rest(spark_prop):
    """A degenerate giant basket (the 100 TB skew hazard: O(basket²)
    pairs) is dropped WHOLE by max_basket_size while every normal
    basket's pairs and supports are untouched — same
    skew-over-completeness contract as the LSH hot-bucket cap."""
    from etl_open_source_spark.operators.baskets import cooccurring_pairs

    spark = spark_prop
    normal = [(b, i) for b in (1, 2) for i in (10, 20, 30)]  # pairs appear twice
    giant = [(99, i) for i in range(300)]
    df = spark.createDataFrame(normal + giant, "basket int, item int")

    capped = cooccurring_pairs(
        df, "basket", "item", min_support=1, max_basket_size=10
    ).collect()
    got = {(r.part_a, r.part_b): r.support for r in capped}
    assert got == {(10, 20): 2, (10, 30): 2, (20, 30): 2}  # giant gone, rest exact

    uncapped = cooccurring_pairs(df, "basket", "item", min_support=1)
    # without the guard the giant basket floods the result with C(300,2)
    # distinct pairs (the three normal pairs are among them — items
    # 10/20/30 also sit in the giant basket, so they merge, not add)
    assert uncapped.count() == (300 * 299) // 2


# --------------------------------------------- hot-key sessionization


def test_sessionize_single_hot_user(spark_prop):
    """All events on ONE user — the worst skew a keyed window can see
    (the whole series lands on one task; correctness must not depend on
    key spread). Sessions split exactly at >30 min gaps and the
    numbering is deterministic."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    spark = spark_prop
    t0 = datetime(2024, 1, 1)
    # 3 sessions: gaps of 10 min inside, 31+ min between
    offsets = [0, 10, 20, 55, 65, 120]
    rows = [(i, t0 + timedelta(minutes=m), 7) for i, m in enumerate(offsets)]
    df = spark.createDataFrame(rows, "event_id int, ts timestamp, user_id int")
    # same expression shape as q_ts_sessionize, applied to the hot frame
    from pyspark.sql import Window

    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_lag = Window.partitionBy("user_id").orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_break = F.lag("ts").over(w_lag).isNull() | (
        F.col("ts") > F.lag("ts").over(w_lag) + F.expr("INTERVAL 30 MINUTES")
    )
    out = df.select(
        "event_id",
        F.sum(F.when(is_break, 1).otherwise(0)).over(w_run).alias("session_num"),
    ).collect()
    got = {r.event_id: r.session_num for r in out}
    assert got == {0: 1, 1: 1, 2: 1, 3: 2, 4: 2, 5: 3}


def test_compact_parquet_partitioned_source(spark_prop, tmp_path):
    """Hive-partitioned input (files in subdirectories): size-targeted
    compaction must see the nested files' bytes (a flat listdir reads 0
    and silently compacts everything to one file)."""
    from pyspark.sql import functions as F

    from etl_open_source_spark.operators.maintenance import compact_parquet

    spark = spark_prop
    src = str(tmp_path / "part_src")
    dst = str(tmp_path / "part_dst")
    df = spark.range(0, 4000).withColumn("g", (F.col("id") % 4).cast("int"))
    df.repartition(4).write.partitionBy("g").parquet(src)
    # tiny target → multiple output files proves the recursive size walk
    n = compact_parquet(spark, src, dst, target_file_bytes=4096)
    assert n >= 2
    assert spark.read.parquet(dst).count() == 4000


def test_snapshot_diff_null_keys(spark_prop):
    """NULL join keys: eqNullSafe matches them across snapshots, so a
    NULL-key row must classify as update/delete/unchanged exactly like
    any other key — never as a spurious 'insert' (regression: presence
    was detected via key.isNotNull(), which reads NULL-key rows as
    absent on both sides)."""
    from etl_open_source_spark.operators.maintenance import snapshot_diff

    spark = spark_prop
    old = spark.createDataFrame([(None, 1), (1, 5)], "k int, v int")
    new = spark.createDataFrame([(None, 2), (2, 7)], "k int, v int")
    got = {
        (r.k, r.change_type): (r.old_v, r.new_v)
        for r in snapshot_diff(old, new, keys=["k"], compare=["v"]).collect()
    }
    assert got == {
        (None, "update"): (1, 2),
        (1, "delete"): (5, None),
        (2, "insert"): (None, 7),
    }
    # unchanged NULL-key row: no diff row at all
    same = spark.createDataFrame([(None, 3)], "k int, v int")
    assert snapshot_diff(same, same, keys=["k"], compare=["v"]).count() == 0


# ---------------------------------------------- bucketed range join


@given(
    pts=st.lists(st.integers(0, 300), min_size=1, max_size=10),
    ivs=st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 100)),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_range_join_bucketed_matches_naive(spark_prop, pts, ivs):
    """The bucket-equi-join + residual-filter rewrite must equal the
    naive theta join (point in [start, end)) on arbitrary interval
    layouts: zero-length and bucket-straddling intervals, duplicate
    points, empty match sets."""
    from datetime import datetime, timedelta

    from etl_open_source_spark.operators.rangejoin import range_join_bucketed

    base = datetime(2024, 1, 1)
    pt_rows = [(i, base + timedelta(hours=h)) for i, h in enumerate(pts)]
    iv_rows = [
        (j, base + timedelta(hours=s), base + timedelta(hours=s + d))
        for j, (s, d) in enumerate(ivs)
    ]
    pdf = spark_prop.createDataFrame(pt_rows, "pid int, ts timestamp")
    idf = spark_prop.createDataFrame(iv_rows, "iid int, s timestamp, e timestamp")
    got = {
        (r.pid, r.iid)
        for r in range_join_bucketed(pdf, idf, "ts", "s", "e").collect()
    }
    want = {
        (i, j)
        for i, t in pt_rows
        for j, s, e in iv_rows
        if s <= t < e
    }
    assert got == want


# -------------------------------------------------- EWMA closed form


@given(
    values=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_ewma_closed_form_matches_recurrence(spark_prop, values):
    """q_ts_ewma's closed form — ewma_i = (1-a)^i (x_0 + a (S_i - x_0))
    with S_i = sum x_j/(1-a)^j — must match the naive pandas-adjust=False
    recurrence ewma_i = a·x_i + (1-a)·ewma_{i-1} to rounding precision
    over random series (the whole point of the rewrite is that it runs
    in one window pass without changing the math)."""
    import pytest

    from datetime import datetime, timedelta

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = spark_prop
    a = 0.2
    base = datetime(2024, 1, 1)
    rows = [(i, 1, base + timedelta(seconds=i), float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp, value double")

    # engine: same closed-form expression as q_ts_ewma
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    basef = df.select(
        "event_id", "value",
        (F.row_number().over(w) - 1).alias("rn"),
        F.first("value").over(w).alias("x0"),
    )
    wcum = (
        Window.partitionBy()
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.sum(F.col("value") * F.pow(F.lit(1.0 / (1 - a)), F.col("rn"))).over(wcum)
    ewma = F.pow(F.lit(1 - a), F.col("rn")) * (F.col("x0") + F.lit(a) * (s - F.col("x0")))
    got = {r.event_id: r.e for r in basef.select("event_id", ewma.alias("e")).collect()}

    # naive recurrence
    expect = {}
    acc = None
    for i, v in enumerate(values):
        acc = float(v) if acc is None else a * float(v) + (1 - a) * acc
        expect[i] = acc
    for i in expect:
        assert got[i] == pytest.approx(expect[i], rel=1e-9, abs=1e-9)


# ------------------------------------------------- skyline / pagerank / reservoir


def _naive_skyline(points):
    out = []
    for i, (x, y) in enumerate(points):
        dominated = any(
            (qx <= x and qy >= y and (qx < x or qy > y)) for qx, qy in points
        )
        if not dominated:
            out.append((i, x, y))
    return sorted(out)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=40
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_skyline_matches_naive(spark_prop, pts):
    """Two-phase bucketed skyline == O(n²) dominance scan, including ties:
    duplicate frontier points must ALL survive, dominated rows never."""
    from etl_open_source_spark.operators.dominance import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark_prop.createDataFrame(rows, "id int, x int, y int")
    got = sorted(
        (r.id, r.x, r.y)
        for r in skyline_2d(df, minimize="x", maximize="y", keys=["id"], n_buckets=4).collect()
    )
    assert got == _naive_skyline(pts)


def _naive_pagerank(nodes, edges, iters, scale):
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    wout = {}
    for s, d, w in edges:
        wout[s] = wout.get(s, 0) + w
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib = {}
        for s, d, w in edges:
            contrib[d] = contrib.get(d, 0) + (r[s] * w) // wout[s]
        r = {v: base + (85 * contrib.get(v, 0)) // 100 for v in nodes}
    return r


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(1, 9)),
        min_size=1,
        max_size=20,
        unique_by=lambda e: (e[0], e[1]),
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_pagerank_matches_naive(spark_prop, edges):
    """Scaled-integer PageRank == a dict-based reference implementation,
    bit-exact — including dangling nodes (mass leak) and isolated nodes
    (rank = base only). Integer arithmetic means NO tolerance needed."""
    from etl_open_source_spark.operators.graph import pagerank_integer

    nodes = list(range(6))
    ndf = spark_prop.createDataFrame([(v,) for v in nodes], "v bigint")
    edf = spark_prop.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    got = {r.v: r.r for r in pagerank_integer(ndf, edf, iters=3, scale=10**9).collect()}
    want = _naive_pagerank(nodes, edges, iters=3, scale=10**9)
    assert got == want


def test_sample_fixed_k_bounds_and_stability(spark_prop):
    """Reservoir sample: exactly min(k, n_g) per stratum, and the SAME
    rows win under a different input partitioning (determinism is the
    contract that seeded reservoirs break)."""
    from etl_open_source_spark.operators.sampling import sample_fixed_k

    rows = [(i, i % 3) for i in range(100)] + [(1000, 9)]  # stratum 9 has 1 row
    df = spark_prop.createDataFrame(rows, "id bigint, g int")
    out = sample_fixed_k(df, ["g"], ["id"], k=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, set()).add(r.id)
    assert {g: len(s) for g, s in by_g.items()} == {0: 5, 1: 5, 2: 5, 9: 1}
    out2 = sample_fixed_k(df.repartition(7, "id"), ["g"], ["id"], k=5).collect()
    by_g2 = {}
    for r in out2:
        by_g2.setdefault(r.g, set()).add(r.id)
    assert by_g == by_g2


def test_skyline_antichain_worst_case(spark_prop):
    """Adversarial shape: perfect anti-correlation (every point on the
    frontier). Local pruning removes nothing — the operator must still
    return ALL n points exactly (the documented O(S)=O(n) worst case),
    plus one dominated point to prove filtering still works."""
    from etl_open_source_spark.operators.dominance import skyline_2d

    n = 500
    # For (minimize x, maximize y) the anti-chain is x and y RISING
    # together: no point is <= on x while >= on y of another.
    rows = [(i, i, i) for i in range(n)]
    rows.append((n, 3, 1))  # dominated by (3, 3)
    df = spark_prop.createDataFrame(rows, "id int, x int, y int")
    got = sorted(
        r.id
        for r in skyline_2d(df, minimize="x", maximize="y", keys=["id"], n_buckets=8).collect()
    )
    assert got == list(range(n))


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_triangle_stats_match_brute_force(spark_prop, pairs):
    """Degree-oriented wedge-close triangle census == brute-force
    itertools enumeration, on arbitrary graphs incl. hubs and
    disconnected vertices. Self-loops are filtered out by the a<b
    canonicalization."""
    from itertools import combinations

    from etl_open_source_spark.operators.graph import triangle_stats

    edges = sorted({(min(u, v), max(u, v)) for u, v in pairs if u != v})
    if not edges:
        return
    nodes = sorted({v for e in edges for v in e})
    es = set(edges)
    want_tri = sum(
        1
        for u, v, w in combinations(nodes, 3)
        if (u, v) in es and (v, w) in es and (u, w) in es
    )
    deg = {v: sum(1 for e in edges if v in e) for v in nodes}
    want_wedges = sum(d * (d - 1) // 2 for d in deg.values())
    df = spark_prop.createDataFrame(edges, "a bigint, b bigint")
    row = triangle_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        len(nodes),
        len(edges),
        want_wedges,
        want_tri,
    )


def test_skyline_null_dimensions_excluded(spark_prop):
    """NULL in either dimension drops the row (documented semantic) —
    without the guard a NULL row silently diverges from the NOT EXISTS
    oracle, which returns NULL rows as trivially non-dominated."""
    from etl_open_source_spark.operators.dominance import skyline_2d

    df = spark_prop.createDataFrame(
        [(1, 1, 5), (2, None, 9), (3, 2, None), (4, 0, 9)],
        "id int, x int, y int",
    )
    got = sorted(
        r.id for r in skyline_2d(df, minimize="x", maximize="y", keys=["id"]).collect()
    )
    assert got == [4]  # (0,9) dominates (1,5); NULL rows excluded


# ------------------------------------------- sorted-neighborhood dedup


def test_sorted_neighborhood_bound_and_recall(spark_prop):
    """The SNM candidate set must stay <= n*(window-1) pairs no matter the
    data (its cost-predictability claim), and a planted near-dup pair
    that shares its sort prefix must always surface."""
    from etl_open_source_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    rows = []
    # 40 distinct docs spread over blocks, plus 5 planted prefix-sharing
    # near-dup pairs (identical except one trailing token)
    for i in range(40):
        rows.append((i, f"doc{chr(97 + i % 7)} body token{i} filler alpha beta"))
    for p in range(5):
        base = f"planted{chr(97 + p)} common prefix words here tail"
        rows.append((100 + 2 * p, base + " one"))
        rows.append((101 + 2 * p, base + " two"))
    df = spark_prop.createDataFrame(rows, ["doc_id", "text"])

    window = 4
    everything = sorted_neighborhood_pairs(
        df, "doc_id", "text", key_len=16, block_len=2, window=window,
        threshold=0.0,
    ).toPandas()
    n = len(rows)
    assert len(everything) <= n * (window - 1)

    hits = sorted_neighborhood_pairs(
        df, "doc_id", "text", key_len=16, block_len=2, window=window,
        threshold=0.5,
    ).toPandas()
    for p in range(5):
        a, b = 100 + 2 * p, 101 + 2 * p
        assert ((hits.id_a == a) & (hits.id_b == b)).any(), (a, b)


# ------------------------------------------------- association rules


def test_association_rules_match_naive(spark_prop):
    """Rules must agree with an exhaustive per-pair computation of
    support/confidence/lift on a small basket set."""
    import itertools

    from etl_open_source_spark.operators.baskets import association_rules

    baskets = {
        1: {"a", "b", "c"},
        2: {"a", "b"},
        3: {"b", "c", "d"},
        4: {"a", "c"},
        5: {"a", "b", "d"},
    }
    rows = [(bk, it) for bk, items in baskets.items() for it in items]
    df = spark_prop.createDataFrame(rows, ["basket", "item"])
    got = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            df, "basket", "item", min_support=1
        ).collect()
    }

    supp = {}
    for items in baskets.values():
        for it in items:
            supp[it] = supp.get(it, 0) + 1
    n = len(baskets)
    pair_supp = {}
    for items in baskets.values():
        for x, y in itertools.combinations(sorted(items), 2):
            pair_supp[(x, y)] = pair_supp.get((x, y), 0) + 1
    expected = {}
    for (x, y), s in pair_supp.items():
        for a, c in ((x, y), (y, x)):
            conf = s / supp[a]
            expected[(a, c)] = (s, round(conf, 6), round(conf * n / supp[c], 6))
    assert set(got) == set(expected)
    for key, (s, conf, lift) in expected.items():
        r = got[key]
        assert (r.support, r.confidence, r.lift) == (s, conf, lift), key
        # sanity: confidence is a probability; support bounded by parts
        assert 0 < r.confidence <= 1
        assert r.support <= min(supp[key[0]], supp[key[1]])


# ---------------------------------------------------- link prediction


def test_link_prediction_matches_naive(spark_prop):
    """Scores must equal the brute-force neighbor-set Jaccard over every
    non-adjacent distance-2 pair, and never include an existing edge."""
    import itertools

    from etl_open_source_spark.operators.graph import link_prediction_jaccard

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 5), (4, 5), (5, 6), (1, 7)]
    df = spark_prop.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.id_a, r.id_b): (r.common, r.jaccard)
        for r in link_prediction_jaccard(df, max_degree=None).collect()
    }

    nbrs: dict[int, set[int]] = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    eset = {tuple(sorted(e)) for e in edges}
    expected = {}
    for u, v in itertools.combinations(sorted(nbrs), 2):
        if (u, v) in eset:
            continue
        inter = len(nbrs[u] & nbrs[v])
        if inter == 0:
            continue
        expected[(u, v)] = (
            inter,
            round(inter / len(nbrs[u] | nbrs[v]), 6),
        )
    assert got == expected
    assert not (set(got) & eset)


# --------------------------------------------- interval overlap join


@given(
    li=st.lists(
        st.tuples(st.integers(0, 500_000), st.integers(0, 400_000)),
        min_size=1, max_size=12,
    ),
    ri=st.lists(
        st.tuples(st.integers(0, 500_000), st.integers(0, 400_000)),
        min_size=1, max_size=12,
    ),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_interval_overlap_matches_naive(spark_prop, li, ri):
    """Bucketed interval-overlap join must equal the naive theta join —
    including intervals spanning many buckets, zero-length intervals, and
    exactly-touching endpoints — and emit each pair exactly once."""
    from datetime import datetime, timedelta, timezone

    from etl_open_source_spark.operators.rangejoin import interval_overlap_join

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)

    def mk(rows, pre):
        return [
            (i, base + timedelta(seconds=s), base + timedelta(seconds=s + d))
            for i, (s, d) in enumerate(rows)
        ]

    left = spark_prop.createDataFrame(
        mk(li, "l"), "l_id long, ls timestamp, le timestamp"
    )
    right = spark_prop.createDataFrame(
        mk(ri, "r"), "r_id long, rs timestamp, re timestamp"
    )
    got = {
        (r.l_id, r.r_id)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket_seconds=86_400
        ).collect()
    }
    expected = set()
    for i, (s1, d1) in enumerate(li):
        for j, (s2, d2) in enumerate(ri):
            if s1 <= s2 + d2 and s2 <= s1 + d1:
                expected.add((i, j))
    assert got == expected
    # exactly-once: re-collect as a list and check no duplicates
    rows = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_seconds=86_400
    ).collect()
    assert len(rows) == len(expected)


def test_link_prediction_hub_guard_bounds_candidates(spark_prop):
    """A star hub must not explode the common-neighbor join: with
    ``max_degree`` below the hub's degree, no candidate pair may be
    generated THROUGH the hub, while predictions pivoting on small-degree
    nodes survive untouched."""
    from etl_open_source_spark.operators.graph import link_prediction_jaccard

    hub = [(0, i) for i in range(1, 101)]  # hub 0 with 100 leaves
    # separate path a-b-c: b is a small pivot, (a,c) is a real candidate
    path = [(200, 201), (201, 202)]
    df = spark_prop.createDataFrame(hub + path, ["src", "dst"])

    uncapped = link_prediction_jaccard(df, max_degree=None).toPandas()
    capped = link_prediction_jaccard(df, max_degree=10).toPandas()
    # uncapped: C(100,2) leaf pairs through the hub + (200,202)
    assert len(uncapped) == 100 * 99 // 2 + 1
    # capped: hub excluded as pivot -> only the path prediction remains,
    # and its score still uses the TRUE degrees
    assert len(capped) == 1
    r = capped.iloc[0]
    assert (r.id_a, r.id_b, r.common) == (200, 202, 1)
    assert r.jaccard == 1.0  # N(200)=N(202)={201}: identical neighbor sets


def test_sorted_neighborhood_degenerate_block_stays_linear(spark_prop):
    """Worst case for blocked SNM: every record lands in ONE block (same
    prefix). The candidate count must still be <= n*(window-1) — the
    window, not the block size, bounds the work. (Contrast: a blocking
    scheme that pairs all-with-all inside a block would go quadratic
    here.)"""
    from etl_open_source_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    n, window = 300, 4
    rows = [(i, f"zz shared prefix block tail{i} unique{i}") for i in range(n)]
    df = spark_prop.createDataFrame(rows, ["doc_id", "text"])
    pairs = sorted_neighborhood_pairs(
        df, "doc_id", "text", key_len=16, block_len=2, window=window,
        threshold=0.0,
    ).count()
    assert pairs <= n * (window - 1)
    assert pairs >= n - (window - 1)  # adjacent records do pair up


def test_interval_overlap_drops_malformed_intervals(spark_prop):
    """end < start rows must be dropped, not exploded through Spark's
    DESCENDING sequence(a, b) — a malformed row exploding across reversed
    buckets would make results depend on bucket geometry."""
    from datetime import datetime, timezone

    from etl_open_source_spark.operators.rangejoin import interval_overlap_join

    t = lambda h: datetime(2024, 1, 1, h, tzinfo=timezone.utc)  # noqa: E731
    left = spark_prop.createDataFrame(
        [(1, t(5), t(3)), (2, t(1), t(2))],  # row 1 malformed
        "l_id long, ls timestamp, le timestamp",
    )
    right = spark_prop.createDataFrame(
        [(10, t(0), t(23))], "r_id long, rs timestamp, re timestamp"
    )
    got = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_seconds=3600
    ).collect()
    assert {(r.l_id, r.r_id) for r in got} == {(2, 10)}


def test_sorted_neighborhood_edge_inputs(spark_prop):
    """The recurring fixture-masked classes — empty text, whitespace-only
    text, 1-char words — must flow through SNM without crashing, emit no
    NULL jaccards, and two empty docs (identical token sets) must pair at
    jaccard 1.0."""
    from etl_open_source_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, ""),
        (2, ""),
        (3, "   "),
        (4, "a b c d"),
        (5, "a b c e"),
        (6, "x"),
    ]
    df = spark_prop.createDataFrame(rows, ["doc_id", "text"])
    out = sorted_neighborhood_pairs(
        df, "doc_id", "text", key_len=16, block_len=2, window=4, threshold=0.0
    ).toPandas()
    assert not out.jaccard.isna().any()
    assert ((out.id_a == 1) & (out.id_b == 2) & (out.jaccard == 1.0)).any()
    hit = out[(out.id_a == 4) & (out.id_b == 5)]
    assert len(hit) == 1 and abs(hit.jaccard.iloc[0] - 0.6) < 1e-9


def test_snm_multikey_second_pass_catches_prefix_divergent_dups(spark_prop):
    """A near-dup pair that differs only in its FIRST token sorts far
    apart on the prefix key (pass 1 misses it) but adjacent on the
    reversed-text key — the multi-key union must catch it."""
    from pyspark.sql import functions as F

    from etl_open_source_spark.operators.neighborhood import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"{chr(97 + i)}filler word salad number{i} end") for i in range(20)]
    # planted: identical except the first token -> prefix keys 'aaa...'
    # vs 'zzz...' (far apart), reversed keys identical
    rows.append((100, "aaa shared middle body tail ending"))
    rows.append((101, "zzz shared middle body tail ending"))
    df = spark_prop.createDataFrame(rows, ["doc_id", "text"])
    common = dict(key_len=16, block_len=2, window=4, threshold=0.5)

    p1 = sorted_neighborhood_pairs(df, "doc_id", "text", **common).toPandas()
    assert not ((p1.id_a == 100) & (p1.id_b == 101)).any()

    p2 = sorted_neighborhood_pairs(
        df, "doc_id", "text", key=F.reverse(F.lower(F.col("text"))), **common
    ).toPandas()
    assert ((p2.id_a == 100) & (p2.id_b == 101)).any()


def test_pagerank_deep_iteration_no_plan_blowup(spark_prop):
    """iters=20 must stay bit-exact vs the dict reference AND complete
    without superlinear plan growth — pins the localCheckpoint-per-round
    lineage truncation in pagerank_integer (VERDICT r6 #6: without it,
    round N's logical plan nests rounds 1..N-1 and Catalyst re-analysis
    blows up past ~8 iterations, same pitfall
    operators/dedup.py connected_components avoids)."""
    from etl_open_source_spark.operators.graph import pagerank_integer

    nodes = list(range(6))
    edges = [(0, 1, 2), (1, 2, 1), (2, 0, 3), (2, 3, 1), (3, 4, 1), (4, 0, 5)]
    ndf = spark_prop.createDataFrame([(v,) for v in nodes], "v bigint")
    edf = spark_prop.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    got = {
        r.v: r.r
        for r in pagerank_integer(ndf, edf, iters=20, scale=10**9).collect()
    }
    want = _naive_pagerank(nodes, edges, iters=20, scale=10**9)
    assert got == want


def test_association_rules_guard_uses_consistent_universe(spark_prop):
    """When max_basket_size fires, confidence/lift must describe the
    GUARDED dataset exactly: dropped baskets leave every universe — pair
    supports, item supports, n_baskets (ADVICE r6: mixing a guarded
    numerator with unguarded denominators yields rates corresponding to
    no consistent dataset)."""
    import itertools

    from etl_open_source_spark.operators.baskets import association_rules

    baskets = {
        1: {"a", "b"},
        2: {"a", "b", "c"},
        3: {"b", "c"},
        4: {"a", "c"},
        # degenerate basket: over the cap, dropped whole
        5: set("abcdefghij"),
    }
    rows = [(bk, it) for bk, items in baskets.items() for it in items]
    df = spark_prop.createDataFrame(rows, ["basket", "item"])
    got = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            df, "basket", "item", min_support=1, max_basket_size=4
        ).collect()
    }

    kept = {bk: items for bk, items in baskets.items() if len(items) <= 4}
    n = len(kept)
    supp: dict = {}
    for items in kept.values():
        for it in items:
            supp[it] = supp.get(it, 0) + 1
    pair_supp: dict = {}
    for items in kept.values():
        for x, y in itertools.combinations(sorted(items), 2):
            pair_supp[(x, y)] = pair_supp.get((x, y), 0) + 1
    expected = {}
    for (x, y), s in pair_supp.items():
        for a, c in ((x, y), (y, x)):
            conf = s / supp[a]
            expected[(a, c)] = (s, round(conf, 6), round(conf * n / supp[c], 6))
    assert set(got) == set(expected)
    for key, (s, conf, lift) in expected.items():
        r = got[key]
        assert (r.support, r.confidence, r.lift) == (s, conf, lift), key
        # internal consistency: a probability, not a guarded/unguarded mix
        assert 0 < r.confidence <= 1


def test_ks_matches_naive(spark_prop):
    """Integer-scaled KS == an exhaustive ECDF comparison, exactly — and
    equals the naive on ALL distinct values (ties must make both ECDFs
    jump together, the classic off-by-one)."""
    # engine under test runs on a synthetic orders table via the query fn
    import pandas as pd

    rows = []
    data = {
        "A": [(1.0, "F"), (1.0, "O"), (2.0, "F"), (3.0, "O"), (3.0, "O")],
        "B": [(5.0, "F"), (6.0, "F")],          # single-sided: ks NULL
        "C": [(1.0, "F"), (1.0, "O")],          # identical dists: ks 0
    }
    ok = 0
    for prio, pairs in data.items():
        for x, st in pairs:
            rows.append((ok, 1, st, x, pd.Timestamp("1995-01-01"), prio))
            ok += 1
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    import os

    d = fixture_dir(prefix="ks_prop_")
    pdf.to_parquet(os.path.join(d, "orders.parquet"), index=False)

    from etl_open_source_spark.registry import get_registry

    got = {
        r.prio: r
        for r in get_registry()["q_quality_ks"].fn(spark_prop, d).collect()
    }

    def naive_ks(pairs):
        f = sorted(x for x, s in pairs if s == "F")
        o = sorted(x for x, s in pairs if s != "F")
        if not f or not o:
            return None
        xs = sorted(set(f) | set(o))
        best = 0.0
        for x in xs:
            ef = sum(1 for v in f if v <= x) / len(f)
            eo = sum(1 for v in o if v <= x) / len(o)
            best = max(best, abs(ef - eo))
        return round(best, 8)

    for prio, pairs in data.items():
        want = naive_ks(pairs)
        assert got[prio].ks == want, (prio, got[prio], want)
    assert got["C"].ks == 0.0


def test_skew_kurt_matches_naive(spark_prop):
    """Moment formulas == a direct numpy population-moment computation on
    a small series (tolerance only for the final float formula — the
    power sums themselves are decimal-exact)."""
    import math
    import os

    import pandas as pd

    vals = [1.0, 2.0, 2.0, 3.0, 10.0, -4.0, 0.5]
    rows = [
        (i, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i), 1, "x", v, "{}")
        for i, v in enumerate(vals)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = fixture_dir(prefix="moments_prop_")
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)

    from etl_open_source_spark.registry import get_registry

    r = get_registry()["q_agg_skew_kurt"].fn(spark_prop, d).collect()[0]
    n = len(vals)
    m = sum(vals) / n
    var = sum((v - m) ** 2 for v in vals) / n
    sd = math.sqrt(var)
    skew = sum((v - m) ** 3 for v in vals) / n / sd**3
    kurt = sum((v - m) ** 4 for v in vals) / n / var**2 - 3
    assert r.n == n
    assert abs(r.mean - round(m, 6)) < 1e-9
    assert abs(r.stddev_pop - sd) < 1e-4
    assert abs(r.skewness - skew) < 1e-4
    assert abs(r.kurtosis_excess - kurt) < 1e-4


def test_chisq_matches_naive(spark_prop):
    """Chi-square == the textbook homogeneity statistic on a hand-built
    two-period contingency table."""
    import os

    import pandas as pd

    # 4 days: first two -> ref (split at day 2 of 4), last two -> cur
    counts = {"a": (30, 10), "b": (10, 30), "c": (20, 20)}
    rows, eid = [], 0
    for et, (n_ref, n_cur) in counts.items():
        for i in range(n_ref):
            rows.append((eid, pd.Timestamp("2024-01-01"), 1, et, 1.0, "{}")); eid += 1
        for i in range(n_cur):
            rows.append((eid, pd.Timestamp("2024-01-04"), 1, et, 1.0, "{}")); eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = fixture_dir(prefix="chisq_prop_")
    pdf.to_parquet(os.path.join(d, "events.parquet"), index=False)

    from etl_open_source_spark.registry import get_registry

    got = {
        r.event_type: r
        for r in get_registry()["q_quality_chisq"].fn(spark_prop, d).collect()
    }
    n_ref = sum(a for a, _ in counts.values())
    n_cur = sum(b for _, b in counts.values())
    n = n_ref + n_cur
    chi2 = 0.0
    for et, (a, b) in counts.items():
        e_ref = (a + b) * n_ref / n
        e_cur = (a + b) * n_cur / n
        contrib = round((a - e_ref) ** 2 / e_ref + (b - e_cur) ** 2 / e_cur, 8)
        assert abs(got[et].contrib - contrib) < 1e-9, et
        assert (got[et].c_ref, got[et].c_cur) == (a, b), et
        chi2 += contrib
    for r in got.values():
        assert abs(r.chi2 - round(chi2, 8)) < 1e-6


def test_winnowing_shared_substring_guarantee(spark_prop):
    """The winnowing guarantee: two documents sharing a substring of
    length >= k + w - 1 MUST share at least one fingerprint hash —
    regardless of where the substring sits in either doc (that position-
    independence is the whole point vs every-i-th sampling). Also pins
    the adjacent-window dedup == DISTINCT equivalence on a repeated-gram
    doc, and the short-doc edge cases."""
    from etl_open_source_spark.operators.text import winnow_fingerprints

    shared = "zqxjkvwpm"  # 9 chars >= k + w - 1 = 8
    docs = [
        (1, "aaaa" + shared + "bbbbcccc"),
        (2, "ddddddddddddd" + shared),
        (3, "x x x x x x x x"),    # repeated grams: tie-heavy
        (4, "ab"),                   # shorter than k: no fingerprints
        (5, ""),
    ]
    df = spark_prop.createDataFrame(docs, "doc_id bigint, text string")
    out = winnow_fingerprints(df, "doc_id", "text", k=5, w=4).toPandas()
    fp1 = set(out[out.doc_id == 1].fp)
    fp2 = set(out[out.doc_id == 2].fp)
    assert fp1 & fp2, "shared 9-char substring yielded no shared fingerprint"
    assert not (set(out.doc_id) & {4, 5})
    # dedup-vs-DISTINCT: no duplicated (doc, pos, fp) rows even with ties
    assert not out.duplicated(["doc_id", "pos", "fp"]).any()
    # every selected pos indexes a real gram
    lens = {i: len(t) for i, t in docs}
    for r in out.itertuples():
        assert 1 <= r.pos <= lens[r.doc_id] - 4


def test_gini_closed_form_cases(spark_prop):
    """Gini == known closed forms: all-equal values → 0; one order holding
    all the mass among zeros → (n-1)/n; all-zero group → NULL."""
    import os

    import pandas as pd

    groups = {
        "EQ": [5.0, 5.0, 5.0, 5.0],
        "ONE": [0.0, 0.0, 0.0, 10.0],
        "ZERO": [0.0, 0.0, 0.0],
    }
    rows, ok = [], 0
    for prio, vals in groups.items():
        for v in vals:
            rows.append((ok, 1, "F", v, pd.Timestamp("1995-01-01"), prio))
            ok += 1
    pdf = pd.DataFrame(
        rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_totalprice", "o_orderdate", "o_orderpriority"],
    )
    d = fixture_dir(prefix="gini_prop_")
    pdf.to_parquet(os.path.join(d, "orders.parquet"), index=False)

    from etl_open_source_spark.registry import get_registry

    got = {r.prio: r for r in get_registry()["q_agg_gini"].fn(spark_prop, d).collect()}
    assert got["EQ"].gini == 0.0
    assert got["ONE"].gini == 0.75  # (n-1)/n with n=4
    assert got["ZERO"].gini is None
