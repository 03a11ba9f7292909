"""Regression tests for operator-level guard rails — each test pins a bug
found by review where an invalid or degenerate input previously failed
SILENTLY (wrong sample, quadratic blow-up, corrupted dimension) or crashed
with an unrelated error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_embedding_lsh_dim_mismatch_raises(spark):
    """A corpus whose embedding width differs from ``dim`` must fail loudly:
    zip-padding would give every vector the all-zero signature, collapsing
    all rows into one bucket per band — the quadratic blow-up LSH exists
    to prevent."""
    from etl_open_source_spark.operators.similarity import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim mismatch"):
        embedding_near_dup_pairs(df, dim=64).collect()
    # matching dim runs clean (orthogonal vectors, no >=0.99 pairs)
    assert embedding_near_dup_pairs(df, dim=2).count() == 0


def test_sampling_rejects_non_integer_keys(spark):
    """String keys would hash through CAST(... AS BIGINT) — an ANSI error
    or, worse, NULL (every row identical) — so the operators refuse them
    up front."""
    from etl_open_source_spark.operators.sampling import (
        sample_uniform,
        train_test_split,
    )

    df = spark.createDataFrame([("docA", 1), ("docB", 2)], "doc string, v int")
    with pytest.raises(ValueError, match="integer key"):
        sample_uniform(df, ["doc"], 0.5)
    with pytest.raises(ValueError, match="integer key"):
        train_test_split(df, ["doc"], {"train": 0.8, "test": 0.2})
    # integer keys still sail through
    assert sample_uniform(df, ["v"], 1.0).count() == 2


def test_scd2_apply_rejects_duplicate_update_keys(spark):
    """Two update rows for one key would fan the live version out and open
    multiple is_current versions — the exact invariant point-in-time
    lookups rely on. Rejected eagerly."""
    from etl_open_source_spark.operators.scd import scd2_apply

    cur = spark.createDataFrame(
        [(1, "a", "2020-01-01 00:00:00", "2200-01-01 00:00:00", True)],
        "id int, email string, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "id", "email",
        "CAST(valid_from AS TIMESTAMP) valid_from",
        "CAST(valid_to AS TIMESTAMP) valid_to",
        "is_current",
    )
    upd = spark.createDataFrame([(1, "y"), (1, "z")], "id int, email string")
    with pytest.raises(ValueError, match="scd2_apply.*2 rows for key"):
        scd2_apply(cur, upd, ["id"], ["email"], "2021-06-01 00:00:00")


def test_merge_upsert_duplicate_updates(spark):
    """Duplicate-key update batches: rejected by default (the union would
    emit two rows per key into the 'upserted' snapshot); resolved
    newest-wins when the caller names a dedup_order column."""
    from etl_open_source_spark.operators.merge import merge_upsert

    t = spark.createDataFrame([(1, 0, "old")], "k int, seq int, v string")
    u = spark.createDataFrame(
        [(1, 1, "mid"), (1, 2, "new")], "k int, seq int, v string"
    )
    with pytest.raises(ValueError, match="merge_upsert.*2 rows for key"):
        merge_upsert(t, u, ["k"])
    out = merge_upsert(t, u, ["k"], dedup_order="seq").collect()
    assert len(out) == 1 and out[0].v == "new"


def test_salted_join_key_only_big_side_still_spreads(spark):
    """A big side with no payload columns used to salt from nothing →
    constant salt per key → the hot key still hit ONE reducer. The row-id
    fallback must yield multiple distinct salts for a hot key (and the
    join result stays exact)."""
    from etl_open_source_spark.operators.skew import salt_col_rowid, salted_join

    big = spark.createDataFrame([(7,)] * 64 + [(1,)], "k int").repartition(8)
    small = spark.createDataFrame([(7, "hot"), (1, "cold")], "k int, tag string")
    out = salted_join(big, small, "k", n_salts=8)
    assert out.count() == 65
    n_salts = (
        big.withColumn("s", salt_col_rowid(8)).filter("k = 7").select("s").distinct().count()
    )
    assert n_salts > 1


def test_multimodal_stages_skip_null_payloads(spark):
    """encode(NULL) upstream yields NULL payloads; every Arrow stage must
    emit no row for them (the chunk_audio contract) instead of dying on
    len(None)."""
    from etl_open_source_spark.operators.multimodal import (
        extract_binary_metadata,
        extract_image_features,
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload")), (2, None)], "id long, payload binary"
    )
    assert extract_binary_metadata(df).count() == 1
    assert extract_image_features(df).count() == 1
    assert resize_images(df).count() == 1


def test_jpeg_fill_bytes_before_sof():
    """FF fill bytes directly before a marker (FF FF C0 ...) are legal
    JPEG; the scanner previously consumed the marker's own FF and missed
    SOF entirely."""
    from etl_open_source_spark.operators.multimodal import decode_image

    sof = b"\xc0" + (17).to_bytes(2, "big") + b"\x08" + (480).to_bytes(2, "big") + (
        640
    ).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    jpeg = b"\xff\xd8" + b"\xff\xff" + b"\xff" + sof + b"\xff\xd9"
    meta = decode_image(jpeg)
    assert (meta["width"], meta["height"]) == (640, 480)


def test_run_checks_fk_only_and_quoted_rule(spark):
    """run_checks with an empty row_checks list (FK-only audit) must not
    emit stack(0, ...) — a parse error — and rule names containing quotes
    must survive the stack() interpolation."""
    from etl_open_source_spark.operators.quality import Check, run_checks

    df = spark.createDataFrame([(1,), (2,), (99,)], "fk int")
    dim = spark.createDataFrame([(1,), (2,)], "id int")
    out = run_checks(df, [], fk_checks=[("fk->dim", "fk", dim, "id")]).collect()
    assert len(out) == 1 and out[0].rule == "fk->dim" and out[0].violations == 1

    quoted = (Check("not_null(it's)", "not_null"),
              F.sum(F.when(F.col("fk").isNull(), 1).otherwise(0)).cast("bigint"))
    rows = run_checks(df, [quoted]).collect()
    assert rows[0].rule == "not_null(it's)" and rows[0].violations == 0


def test_pq_path_drops_zero_norm_vectors(spark):
    """An all-zero embedding divides to null/NaN under unit-normalization
    — previously failing the KMeans fit or silently emitting null codes
    and distances (ADVICE r6). Every normalizing PQ entry point now drops
    zero-norm vectors up front, like a production encoder would at
    ingest; valid vectors are unaffected."""
    from etl_open_source_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        sample_centroids,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # degenerate
        (4, [0.5, 0.5, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    books = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[0.0, 0.0], [1.0, 1.0]],
    ]  # m=2, dsub=2 literal codebooks — deterministic, no KMeans needed
    enc = pq_encode(df, books).toPandas()
    assert set(enc["vec_id"]) == {1, 2, 4}  # zero vector dropped
    assert not enc["codes"].isna().any()

    top = pq_topk(df, df, books, k=2).toPandas()
    assert 3 not in set(top["query_id"]) and 3 not in set(top["neighbor_id"])
    assert not top["adist"].isna().any()

    cen = sample_centroids(df.filter("vec_id != 3"), n=2)
    ivf = ivfpq_topk(df, df, cen, books, k=2, nprobe=2, rerank=3).toPandas()
    assert 3 not in set(ivf["query_id"]) and 3 not in set(ivf["neighbor_id"])
    assert not ivf["adist"].isna().any()

    # an all-zero row sharing id 1 with a usable row: the exact-cosine
    # rerank joins shortlisted ids back to the corpus, so it must read the
    # corpus through the same zero-norm drop (else cosine divides by zero)
    shadowed = df.unionByName(
        spark.createDataFrame([(1, [0.0, 0.0, 0.0, 0.0])], df.schema)
    )
    clean = pq_topk(df, df, books, k=2, rerank=3).toPandas()
    got = pq_topk(shadowed, shadowed, books, k=2, rerank=3).toPandas()
    assert got.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        clean.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    ivf2 = ivfpq_topk(shadowed, shadowed, cen, books, k=2, nprobe=2, rerank=3).toPandas()
    assert ivf2.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        ivf.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
