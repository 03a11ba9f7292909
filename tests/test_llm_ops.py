"""Invariant tests for the probabilistic LLM operators (rows-only in the
driver's check): planted-duplicate recall, candidate precision, ANN recall.
"""

from __future__ import annotations

import pytest

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators import dedup as D
from etl_open_source_spark.operators import multimodal as M
from etl_open_source_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    # The session is shared across test modules: a cached `documents` scan
    # left behind gets substituted (InMemoryTableScan, all columns) into
    # later physical-plan assertions.
    df.unpersist()


def test_minhash_matches_exact_ngram(spark, sf_dir, docs):
    """LSH(16×4) must recover the planted near-dups (Jaccard >= 0.8 →
    P(candidate) ≈ 0.9998) and, being verify-filtered, may never emit a
    pair below the threshold (no false positives)."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    }
    lsh_rows = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 64, 16, 0.5).collect()
    lsh = {(r.id_a, r.id_b) for r in lsh_rows}
    assert lsh <= exact, f"false positives: {lsh - exact}"
    strong = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.8).collect()
    }
    missed = strong - lsh
    assert len(missed) <= max(1, len(strong) // 10), f"LSH missed strong dups: {missed}"


def test_ngram_jaccard_planted_dups_found(docs):
    """The fixture corpus plants near-duplicates; the exact 3-gram pass
    must find some, and a disjoint corpus (distinct sources as proxies)
    must not collapse into one blob."""
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).collect()
    n_docs = docs.count()
    assert 0 < len(pairs) < n_docs  # found dups, didn't collapse the corpus
    for r in pairs:
        assert 0.5 <= r.jaccard <= 1.0


def test_ngram_skew_guard_bounds_candidates(spark):
    """A shingle present in EVERY doc must not blow up the inverted-index
    self-join: with max_doc_freq set, the hot shingle's posting list is
    dropped entirely, so candidate pairs come only from rare shingles.
    Corpus: 40 docs all sharing one hot 3-gram prefix; two planted
    near-dup pairs via rare tails."""
    rows = []
    for i in range(40):
        rows.append((i, f"alpha beta gamma tail{i} mid{i} end{i} zz{i} q{i}"))
    rows.append((100, "alpha beta gamma tailX midX endX zzX qX"))
    rows.append((101, "alpha beta gamma tailX midX endX zzX qY"))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.3, max_doc_freq=5
    )
    pairs = {(r.id_a, r.id_b) for r in guarded.collect()}
    # the planted pair survives (shares rare shingles), and the hot-shingle
    # clique (40*41/2 ≈ 820 candidate pairs unguarded) is gone
    assert (100, 101) in pairs
    assert len(pairs) < 10

    # the guard also bounds the candidate join itself: every surviving
    # posting list has <= max_doc_freq entries
    sh = D.word_shingles(d, "doc_id", "text", 3, max_doc_freq=5)
    from pyspark.sql import functions as F

    max_df = sh.groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    assert max_df <= 5


def test_exact_dedup_deterministic_keep_lowest(docs):
    doubled = docs.unionByName(docs)
    kept = D.exact_dedup(doubled, ["text"], "doc_id")
    assert kept.count() == docs.select("text").distinct().count()


def test_simhash_self_similarity(spark, docs):
    """A doc duplicated verbatim has hamming distance 0 to itself — inject
    copies with shifted ids and require simhash to pair them up."""
    from pyspark.sql import functions as F

    base = docs.limit(20).select("doc_id", "text")
    copies = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = D.simhash_pairs(base.unionByName(copies), "doc_id", "text", max_hamming=0)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1_000_000) for r in base.collect()}
    assert expected <= found


def test_connected_components_shapes(spark):
    """Chain, triangle-via-shared-member, isolated pair — the min id must
    reach hops that were never emitted as a pair. A self-pair is a
    singleton component (7) and is harmless on a node with other edges (4)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (7, 7), (4, 4)],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.rep for r in D.connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
    }


def test_connected_components_rejects_null_ids(spark):
    """A NULL id is not a node: it must raise a typed error, not vanish
    from (or silently shorten) its pair."""
    pairs = spark.createDataFrame([(1, 2), (2, None)], "id_a bigint, id_b bigint")
    with pytest.raises(TypeError, match="NULL"):
        D.connected_components(pairs).collect()


def test_connected_components_random_vs_union_find(spark):
    """Randomized graph vs a driver-side union-find reference."""
    import random

    rng = random.Random(13)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e}
    want = {x: find(x) for x in nodes}
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r.id: r.rep for r in D.connected_components(pairs).collect()}
    assert got == want


def test_dedup_keep_representatives(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a bigint, id_b bigint")
    kept = sorted(
        r.doc_id for r in D.dedup_keep_representatives(df, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 2, 4]  # 3 and 5 collapse into representative 0


def test_ivf_recall_floor(spark, sf_dir):
    """IVF(16 buckets, probe 2) recall@5 vs brute force must clear a loose
    floor — the point is the mechanics (bucketing, probing) are sound."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(e.vec_id < 20)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    cents = S.sample_centroids(e, n=16)
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(q, e, cents, k=5, nprobe=2).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_ivf_kmeans_recall_on_clustered_corpus(spark):
    """On a corpus WITH cluster structure (8 well-separated centers +
    small noise), k-means|| centroids must recover it: IVF probing 2 of 8
    buckets must reach recall@5 >= 0.9 vs brute force, while the probed
    buckets cover well under half the corpus (i.e. the recall is earned by
    structure, not by scanning everything). The uniform-random fixture
    can't demonstrate this — any bucketing of structureless vectors caps
    recall — so the structure is planted here."""
    import math
    import random

    rng = random.Random(7)
    dim, n_clusters, per = 16, 8, 40
    centers = []
    for c in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v))
        centers.append([x / s for x in v])
    rows = []
    for c, cv in enumerate(centers):
        for j in range(per):
            rows.append(
                (c * per + j, [x + rng.gauss(0, 0.05) for x in cv])
            )
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = e.filter(e.vec_id % per == 0)  # one query per cluster
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    cents = S.kmeans_centroids(e, n=n_clusters, seed=42)
    assigned = S.ivf_assign(e, cents)
    sizes = sorted(
        (r["count"] for r in assigned.groupBy("bucket").count().collect()),
        reverse=True,
    )
    assert sum(sizes[:2]) / sum(sizes) < 0.5, f"buckets degenerate: {sizes}"
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(q, e, cents, k=5, nprobe=2).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.9, f"k-means IVF missed planted structure: {recall}"


def test_embedding_near_dup_self_pairs(spark, sf_dir):
    """Duplicated vectors (sim == 1.0) must be caught by sign-LSH."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings").limit(50)
    copies = e.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    pairs = S.embedding_near_dup_pairs(e.unionByName(copies), threshold=0.999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.vec_id, r.vec_id + 1_000_000) for r in e.select("vec_id").collect()}
    assert expected <= found


def test_multimodal_decode_stub_and_fake(spark, docs):
    with pytest.raises(ValueError):
        M.decode_image(b"not an image")
    binary = M.with_binary_column(docs.limit(10), "doc_id", "text")
    feats = M.extract_image_features(binary).collect()
    assert len(feats) == 10
    for r in feats:
        assert r.width >= 64 and r.height >= 64 and r.n_frames == 1


def _png(w, h, frames=None):
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 6, 0, 0, 0)
    out = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    if frames is not None:  # APNG animation control chunk
        actl = struct.pack(">II", frames, 0)
        out += struct.pack(">I", 8) + b"acTL" + actl + struct.pack(">I", zlib.crc32(b"acTL" + actl))
    return out


def test_decode_image_real_headers(spark):
    """Header decode on genuinely encoded bytes for all four formats."""
    import struct

    assert M.decode_image(_png(640, 480)) == {
        "width": 640, "height": 480, "n_frames": 1, "mean_luma": None}
    assert M.decode_image(_png(32, 32, frames=12))["n_frames"] == 12

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    gif += b"\x21\xf9\x04\x04\x00\x00\x00\x00" * 3  # 3 graphic-control exts
    got = M.decode_image(gif)
    assert (got["width"], got["height"], got["n_frames"]) == (320, 200, 3)

    bmp = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + struct.pack(
        "<IiiHH", 40, 800, -600, 1, 24)  # negative height = top-down
    got = M.decode_image(bmp)
    assert (got["width"], got["height"]) == (800, 600)

    jpg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 1080, 1920, 3) + bytes(3)
    )
    got = M.decode_image(jpg)
    assert (got["width"], got["height"]) == (1920, 1080)

    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff\xe0\x00\x04\x00\x00")  # JPEG, no SOF


def test_extract_image_features_real_decoder(spark):
    """The mapInPandas stage runs the REAL header decoder end-to-end on
    encoded PNG bytes built per-row."""
    rows = [(i, _png(100 + i, 200 + i, frames=i + 1)) for i in range(8)]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    got = {r.id: r for r in M.extract_image_features(df, decoder=M.decode_image).collect()}
    assert len(got) == 8
    for i in range(8):
        assert (got[i].width, got[i].height, got[i].n_frames) == (100 + i, 200 + i, i + 1)
        assert got[i].mean_luma is None


def test_approx_percentile_accuracy(spark, sf_dir):
    """Sketch percentiles must land within 2% relative error of exact."""
    from pyspark.sql import functions as F

    l = load_table(spark, sf_dir, "lineitem")
    exact = l.agg(F.percentile("l_extendedprice", F.lit(0.5)).alias("p")).collect()[0].p
    approx = l.agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("p")
    ).collect()[0].p
    assert abs(approx - exact) / exact < 0.02


def test_range_join_bucketed_boundaries(spark):
    """Intervals spanning several buckets, inclusive start / exclusive
    end, overlapping windows, and a collision guard."""
    from datetime import datetime

    from etl_open_source_spark.operators.rangejoin import range_join_bucketed

    pts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),   # == start of iv 0 (inclusive)
            (2, datetime(2024, 1, 3, 0, 0, 0)),   # == end of iv 0 (exclusive)
            (3, datetime(2024, 1, 2, 12, 0, 0)),  # inside iv 0 and iv 1
            (4, datetime(2024, 2, 1, 0, 0, 0)),   # matches nothing
        ],
        "pid int, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (0, datetime(2024, 1, 1), datetime(2024, 1, 3)),  # spans 2+ day-buckets
            (1, datetime(2024, 1, 2), datetime(2024, 1, 4)),
        ],
        "iid int, s timestamp, e timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join_bucketed(pts, ivs, "ts", "s", "e").collect()
    }
    assert got == {(1, 0), (3, 0), (3, 1), (2, 1)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="collision"):
        range_join_bucketed(pts, pts, "ts", "ts", "ts")


def test_star_cc_matches_union_find_and_handles_chains(spark):
    """large-star/small-star CC: correct on a random graph, on a
    diameter-6 chain, AND on a 200-node chain that converges in far fewer
    rounds than its diameter — diameter-independence is the point of the
    algorithm."""
    import random

    rng = random.Random(29)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    chain = [(i, i + 1) for i in range(1000, 1200)]  # diameter 200
    short_chain = [(i, i + 1) for i in range(2001, 2007)]  # diameter 6
    all_edges = edges + chain + short_chain

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in all_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in all_edges for x in e}
    want = {x: find(x) for x in nodes}

    pairs = spark.createDataFrame(all_edges, "id_a bigint, id_b bigint")
    got = {r.id: r.rep for r in D.connected_components(pairs, max_rounds=12).collect()}
    assert got == want  # 12 rounds suffice where propagation needs 200


def test_label_cc_raises_instead_of_partial_labels(spark):
    """CC must fail loudly when the edge set is still changing at its
    round cap — a silently partial labeling corrupts dedup."""
    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="no convergence in 3 rounds"):
        D.connected_components(pairs, max_rounds=3)


def test_bpe_train_matches_reference(spark):
    """Distributed BPE vs a naive reference trainer: identical merge-rule
    sequences (same tie-break), and segment() round-trips a word."""
    from collections import Counter

    from etl_open_source_spark.operators.bpe import bpe_segment, bpe_train

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "wider wider new new",
    ]

    def ref_train(corpus, n):
        words = Counter()
        for t in corpus:
            for w in t.lower().split():
                words[w] += 1
        vocab = {tuple(w): c for w, c in words.items()}
        rules = []
        for rank in range(n):
            pairs = Counter()
            for sym, c in vocab.items():
                for i in range(len(sym) - 1):
                    pairs[(sym[i], sym[i + 1])] += c
            if not pairs:
                break
            # freq desc, then lexicographic (left, right) — same tie-break
            (l, r), f = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if f < 2:
                break
            rules.append((rank, l, r, f))
            new_vocab = {}
            for sym, c in vocab.items():
                out, i = [], 0
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(sym[i])
                        i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab
        return rules

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    got = bpe_train(df, "text", num_merges=8)
    want = ref_train(texts, 8)
    assert got == want
    # the learned rules actually segment: 'newest' collapses substantially
    segs = bpe_segment("newest", got)
    assert "".join(segs) == "newest" and len(segs) < 6


def test_hll_merge_lossless_and_close_to_exact(spark, sf_dir):
    """Daily HLL sketches merged up must give the SAME estimate as
    sketching the raw column (register-max union is lossless), and both
    must land within HLL++'s error envelope of the exact NDV."""
    from pyspark.sql import functions as F

    from etl_open_source_spark.registry import get_registry

    out = get_registry()["q_agg_hll_merge"].fn(spark, sf_dir).toPandas()
    assert out["merge_lossless"].all()
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .toPandas()
        .set_index("event_type")["n"]
    )
    for _, r in out.iterrows():
        assert abs(r.users_merged - exact[r.event_type]) <= max(
            0.05 * exact[r.event_type], 2
        )


# ------------------------------------------------------------ curation


def test_quantize_range_and_reconstruction(spark, sf_dir):
    """int8 invariants: every q in [-127, 127]; dequantized vector within
    scale/2 of the source elementwise (round-half-up bound)."""
    from etl_open_source_spark.catalog import load_table
    from etl_open_source_spark.operators.curation import quantize_embeddings

    e = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(e, "vec_id", "embedding")
    row = (
        out.join(e, "vec_id")
        .selectExpr(
            "q_min", "q_max", "scale9",
            "aggregate(zip_with(qvec, embedding, (q, x) -> "
            "  CASE WHEN abs(q * scale9 - CAST(x AS DOUBLE)) > scale9 * 0.5001 "
            "       THEN 1 ELSE 0 END), 0, (a, b) -> a + b) AS n_bad"
        )
        .toPandas()
    )
    assert (row.q_min >= -127).all() and (row.q_max <= 127).all()
    assert (row.n_bad == 0).all()


def test_mix_domains_budget_and_determinism(spark, sf_dir):
    """The realized sample is within a few % of the 60% budget; re-running
    selects the exact same rows (hash-deterministic, no RNG)."""
    from etl_open_source_spark.catalog import load_table
    from etl_open_source_spark.operators.curation import domain_mixture

    d = load_table(spark, sf_dir, "documents")
    total = d.count()
    s1 = domain_mixture(d, "doc_id", "source", "n_chars").select("doc_id").toPandas()
    s2 = domain_mixture(d, "doc_id", "source", "n_chars").select("doc_id").toPandas()
    assert sorted(s1.doc_id) == sorted(s2.doc_id)
    # hash buckets are uniform-ish, not exact: ±10% of the 60% budget
    assert abs(len(s1) / total - 0.6) < 0.1


def test_entropy_bounds(spark, sf_dir):
    """0 <= H <= log2(alphabet size of the doc); a single-char doc is 0."""
    from etl_open_source_spark.operators.curation import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.entropy_bits for r in char_entropy(df, "doc_id", "text").collect()}
    assert out[1] == 0.0
    assert out[2] == 1.0  # two symbols, uniform
    assert out[3] == 2.0  # four symbols, uniform


def test_decontaminate_planted_overlap(spark):
    """A corpus doc that quotes 5+ consecutive benchmark words must be
    flagged; disjoint-vocabulary docs must not."""
    from etl_open_source_spark.operators.curation import decontaminate_hits

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text alpha beta gamma delta epsilon more words"),
            (2, "totally unrelated vocabulary nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.n_shared_ngrams for r in
           decontaminate_hits(corpus, bench, "doc_id", "text", n=5).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_dup_ngram_fraction_planted(spark):
    """Five docs sharing one 4-gram: those positions are flagged at
    min_docs=5; a unique-text doc scores 0."""
    from etl_open_source_spark.operators.curation import dup_ngram_fraction

    shared = "the quick brown fox"
    rows = [(i, f"{shared} unique{i} tail{i} words{i}") for i in range(5)]
    rows.append((99, "completely different sentence with no overlap at all"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.dup_frac for r in
           dup_ngram_fraction(df, "doc_id", "text", n=4, min_docs=5).collect()}
    assert out[0] > 0 and out[99] == 0.0


def test_knn_graph_mutual_symmetry(spark, sf_dir):
    """Every mutual edge's reverse is present and also mutual."""
    from etl_open_source_spark.registry import get_registry

    out = get_registry()["q_sim_knn_graph"].fn(spark, sf_dir).toPandas()
    edges = {(r.query_id, r.neighbor_id): r.mutual for _, r in out.iterrows()}
    for (a, b), m in edges.items():
        if m:
            assert edges.get((b, a)) is True or edges.get((b, a)) == True  # noqa: E712


def test_letterbox_dims_properties(spark):
    """Fit never exceeds the target box, preserves orientation, and is
    exact for integer-ratio scales."""
    from etl_open_source_spark.operators.multimodal import letterbox_dims

    for sw, sh in [(640, 480), (480, 640), (1, 1), (5000, 3), (3, 5000), (256, 256)]:
        ow, oh = letterbox_dims(sw, sh, 256, 256)
        assert 1 <= ow <= 256 and 1 <= oh <= 256
        assert (sw >= sh) == (ow >= oh)
    assert letterbox_dims(512, 256, 256, 256) == (256, 128)
    assert letterbox_dims(1024, 1024, 256, 256) == (256, 256)


def test_lsh_hot_bucket_cap_bounds_degenerate_corpus(spark):
    """A flood of byte-identical docs must not explode the banding join:
    with the cap, the degenerate bucket is dropped (identical docs are
    exact-dedup's job); genuine near-dup pairs elsewhere still surface."""
    from etl_open_source_spark.operators.dedup import minhash_lsh_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(40)]  # degenerate flood
    rows += [
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine eleven"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=10
    ).toPandas()
    # flood pairs (both ids < 40) suppressed; the real near-dup pair kept
    assert not ((capped.id_a < 40) & (capped.id_b < 40)).any()
    assert ((capped.id_a == 100) & (capped.id_b == 101)).any()
    uncapped = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=None
    ).toPandas()
    assert ((uncapped.id_a < 40) & (uncapped.id_b < 40)).sum() == 40 * 39 / 2


def test_curation_ops_null_and_empty_safe(spark):
    """Real corpora carry nulls and empties: no curation operator may
    crash; nulls propagate or drop, never poison the batch."""
    from pyspark.sql import functions as F

    from etl_open_source_spark.operators import curation as C

    df = spark.createDataFrame(
        [
            (1, "normal text with several words here ok", "s1", 38),
            (2, "", "s1", 0),
            (3, None, "s2", None),
            (4, "short", "s2", 5),
        ],
        "doc_id bigint, text string, source string, n_chars bigint",
    )
    emb = spark.createDataFrame(
        [(1, [0.1, -0.2]), (2, []), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    assert C.char_entropy(df, "doc_id", "text").count() == 3  # null text drops
    assert C.dup_ngram_fraction(df, "doc_id", "text", n=2, min_docs=2).count() >= 1
    C.decontaminate_hits(
        df.filter("doc_id > 1"), df.filter("doc_id = 1"), "doc_id", "text", n=2
    ).count()
    assert C.domain_mixture(df, "doc_id", "source", "n_chars").count() >= 1
    q = {r.vec_id: r for r in C.quantize_embeddings(emb, "vec_id", "embedding").collect()}
    assert q[2].qvec == [] and q[3].qvec is None  # empty/null propagate cleanly
    urls = spark.createDataFrame(
        [(None,), ("notaurl",), ("notaurl#frag",)], "url string"
    ).select(C.normalize_url(F.col("url")).alias("n"))
    got = [r.n for r in urls.collect()]
    assert got == [None, "notaurl", "notaurl"]  # schemeless passes through


def test_asof_nearest_direction(spark):
    """nearest = argmin |l.ts - r.ts| over backward/forward candidates;
    exact ties resolve backward (pandas merge_asof semantics)."""
    from datetime import datetime

    from etl_open_source_spark.operators.asof import asof_join

    def ts(s):
        return datetime.fromisoformat(s)

    left = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00")),   # backward at 9:59, forward at 10:02 -> backward
         (2, 1, ts("2024-01-01 10:01:30")),   # backward 9:59 (90s), forward 10:02 (30s) -> forward
         (3, 1, ts("2024-01-01 10:00:30")),   # 9:59 is 90s back, 10:02 is 90s fwd: tie -> backward
         (4, 2, ts("2024-01-01 00:00:00"))],  # no right rows for user 2 -> null
        "event_id bigint, user_id bigint, l_ts timestamp")
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 09:59:00"), 10.0),
         (1, ts("2024-01-01 10:02:00"), 20.0)],
        "user_id bigint, r_ts timestamp, r_val double")
    out = {r.event_id: r.r_val for r in asof_join(
        left, right, by=["user_id"], left_on="l_ts", right_on="r_ts",
        right_values=["r_val"], direction="nearest").collect()}
    assert out[1] == 10.0 and out[2] == 20.0 and out[3] == 10.0 and out[4] is None
    # tolerance bounds both sides
    out_t = {r.event_id: r.r_val for r in asof_join(
        left, right, by=["user_id"], left_on="l_ts", right_on="r_ts",
        right_values=["r_val"], direction="nearest", tolerance="40 seconds").collect()}
    assert out_t[1] is None and out_t[2] == 20.0 and out_t[3] is None


def test_cms_error_bounds(spark, sf_dir):
    """Decode each count-min sketch JVM-side and check the classical CMS
    guarantee per user: true <= estimate <= true + eps*N."""
    from etl_open_source_spark.catalog import load_table
    from etl_open_source_spark.registry import get_registry

    out = get_registry()["q_agg_cms"].fn(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    truth = {
        (r.event_type, r.user_id): r.cnt
        for r in e.groupBy("event_type", "user_id").count().withColumnRenamed("count", "cnt").collect()
    }
    eps = 0.001
    jvm = spark._jvm
    for row in out:
        data = bytes.fromhex(row.cms_hex)
        bais = jvm.java.io.ByteArrayInputStream(data)
        cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bais)
        users = [u for (et, u) in truth if et == row.event_type][:50]
        for u in users:
            true = truth[(row.event_type, u)]
            est = cms.estimateCount(u)
            assert true <= est <= true + eps * row.n_rows + 1, (row.event_type, u, true, est)


def test_chunk_audio_empty_and_null_payloads_emit_no_rows(spark):
    """Empty or null payloads must contribute NO chunk rows — the SQL
    oracle's position-series guard emits none, and a silent zero-byte
    'chunk 0' row would diverge engine from oracle on a sparse corpus."""
    from etl_open_source_spark.operators.multimodal import chunk_audio

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh")), (2, bytearray(b"")), (3, None)],
        "id bigint, payload binary",
    )
    out = chunk_audio(df, "id", "payload", chunk_bytes=5).toPandas()
    assert set(out.id) == {1}
    assert len(out) == 2  # ceil(8/5)
    assert list(out.sort_values("chunk").n_bytes) == [5, 3]


def test_rep_ngram_stats_crafted_docs(spark):
    """Hand-computed repetition stats: 'a b a b a b' has 5 bigram
    positions, all repeated (a-b x3, b-a x2) -> rep_frac 1.0, top 3/5;
    an all-distinct doc repeats nothing; a 1-word doc emits no row."""
    from etl_open_source_spark.operators.curation import rep_ngram_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "u v w x y"), (3, "solo")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in rep_ngram_stats(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2}
    assert out[1].n_pos == 5 and out[1].rep_pos == 5
    assert abs(out[1].rep_frac - 1.0) < 1e-9
    assert abs(out[1].top_frac - 0.6) < 1e-9
    assert out[2].n_pos == 4 and out[2].rep_pos == 0
    assert abs(out[2].top_frac - 0.25) < 1e-9


def test_cluster_safe_split_never_straddles(spark):
    """Every member of a duplicate cluster must land in the same split,
    and the overall rate must track train_frac across many clusters."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_open_source_spark.operators.curation import cluster_safe_split

    rows = []
    for c in range(200):          # 200 clusters of 3 exact copies
        for m in range(3):
            rows.append((c * 10 + m, f"cluster text {c}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    reps = df.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("text")).alias("rep")
    )
    out = cluster_safe_split(reps, "rep", train_frac=0.9).toPandas()
    per_cluster = out.groupby("rep").split.nunique()
    assert (per_cluster == 1).all()  # no cluster straddles
    frac = (out.split == "train").mean()
    assert 0.8 < frac < 0.97

    # the bucket cutoff must ROUND train_frac * 10000 (0.57 -> 5700, not
    # the float-truncated 5699) so engine and any "% 10000 < 5700" oracle
    # agree on boundary clusters
    from etl_open_source_spark.operators.sampling import det_hash

    got = cluster_safe_split(reps, "rep", train_frac=0.57).toPandas()
    want = reps.select(
        "doc_id",
        (F.pmod(det_hash("rep"), F.lit(10_000)) < 5700).alias("is_train"),
    ).toPandas()
    merged = got.merge(want, on="doc_id")
    assert ((merged.split == "train") == merged.is_train).all()


def test_containment_catches_quote_jaccard_misses(spark):
    """Planted asymmetry: doc 2 is a verbatim quote of doc 1's first 10
    words inside 90 words of unrelated text. Containment(quote→host) ≈ 1
    must fire; Jaccard at the same threshold must NOT (≈10/100) — the
    exact gap the directed operator exists to close. An unrelated doc 3
    must pair with nothing in either direction."""
    quote = " ".join(f"tok{i}" for i in range(10))
    host = quote + " " + " ".join(f"pad{i}" for i in range(90))
    other = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, host), (2, quote), (3, other)], "doc_id bigint, text string"
    )
    cont = {
        (r.src, r.dst): r.containment
        for r in D.ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.6
        ).collect()
    }
    assert cont == {(2, 1): 1.0}  # quote fully contained in host, one direction
    jac = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.6).collect()
    assert jac == []  # resemblance blind to the quote at the same threshold


def test_pq_recall_floor_and_encode_properties(spark, sf_dir):
    """PQ ADC (m=8, k=16) recall@5 vs exact cosine top-5 must clear a
    floor on the fixture corpus, the encode must be deterministic across
    runs, and codes must stay in [0, k)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(e.vec_id < 20)
    books = S.pq_train(e, m=8, k=16, seed=42)
    assert len(books) == 8 and all(len(b) == 16 for b in books)

    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_topk(q, e, books, k=5, rerank=50).collect()
    }
    recall = len(brute & ann) / len(brute)
    # ADC shortlist of 50 (5%% of corpus) + exact re-rank: the production
    # two-stage shape; the floor pins mechanics, not tuned quality
    assert recall >= 0.6, f"PQ recall collapsed: {recall}"

    enc1 = {r.vec_id: list(r.codes) for r in S.pq_encode(e, books).collect()}
    enc2 = {r.vec_id: list(r.codes) for r in S.pq_encode(e, books).collect()}
    assert enc1 == enc2
    assert all(
        len(c) == 8 and all(0 <= x < 16 for x in c) for c in enc1.values()
    )


def test_pq_planted_cluster_recall(spark):
    """On a corpus with real cluster structure (where quantization cells
    align with data), PQ must reach high recall — the analog of the
    k-means IVF planted test."""
    import random

    rng = random.Random(7)
    dim, rows = 64, 400
    data = []
    for i in range(rows):
        center = [(1.0 if (i % 8) == (d // 8) else -1.0) for d in range(dim)]
        data.append(
            (i, [center[d] + rng.uniform(-0.05, 0.05) for d in range(dim)])
        )
    e = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    q = e.filter(e.vec_id < 16)
    books = S.pq_train(e, m=4, k=16, seed=1)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    ann = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_topk(q, e, books, k=5, rerank=50).collect()
    }
    recall = len(brute & ann) / len(brute)
    assert recall >= 0.9, f"PQ missed planted structure: {recall}"


def test_ivfpq_recall_and_pruning(spark, sf_dir):
    """IVF-PQ (16 buckets, probe 4, m=8 PQ, 50-candidate re-rank) must
    clear a recall floor vs brute force AND actually prune: every
    returned neighbor must come from one of the query's 4 probed
    buckets."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(e.vec_id < 20)
    cents = S.kmeans_centroids(e, n=16, seed=42)
    books = S.pq_train(e, m=8, k=16, seed=42)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(q, e, k=5).collect()
    }
    ann_rows = S.ivfpq_topk(q, e, cents, books, k=5, nprobe=4, rerank=50).collect()
    ann = {(r.query_id, r.neighbor_id) for r in ann_rows}
    recall = len(brute & ann) / len(brute)
    # probing 4/16 buckets of a uniform corpus bounds recall; the floor
    # pins mechanics (bucketing + ADC + re-rank all composing correctly)
    assert recall >= 0.25, f"IVF-PQ recall collapsed: {recall}"
    assert all(len({r.query_id for r in ann_rows if r.query_id == qid}) == 1
               for qid in {r.query_id for r in ann_rows})

    # pruning evidence: neighbors must lie in the probed buckets
    assigned = {r[0]: r.bucket for r in S.ivf_assign(e, cents).collect()}
    cen = cents.collect()
    import math
    evec = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    for r in ann_rows:
        sims = sorted(
            ((cos(evec[r.query_id], [float(x) for x in c.centroid]), c.centroid_id)
             for c in cen),
            key=lambda t: (-t[0], t[1]),
        )
        probed = {cid for _, cid in sims[:4]}
        assert assigned[r.neighbor_id] in probed, (r.query_id, r.neighbor_id)


def test_kmeans_k1_diverse_returns_mean(spark):
    """Explicit n=1 on a DIVERSE corpus is the k=1 k-means optimum — the
    per-dimension MEAN — not an arbitrary first row (ADVICE r9)."""
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    rows = S.kmeans_centroids(e, n=1).collect()
    assert len(rows) == 1
    got = [round(x, 9) for x in rows[0].centroid]
    assert got == [round(2.0 / 3.0, 9)] * 2, got


def test_kmeans_constant_corpus_centroid_is_the_point(spark):
    const = spark.createDataFrame(
        [(i, [2.0, 3.0]) for i in range(5)], "vec_id int, embedding array<double>"
    )
    rows = S.kmeans_centroids(const, n=4).collect()
    assert [list(r.centroid) for r in rows] == [[2.0, 3.0]]


def test_kmeans_and_pq_empty_training_raise_clearly(spark):
    """An empty training frame raises the NAMED EmptyTrainingSet (still a
    ValueError), not an opaque 'NoneType is not subscriptable' (ADVICE
    r9); the distinct type is what lets the ANN query surfaces map it to
    empty-in/empty-out without a separate isEmpty() action (ADVICE r10)."""
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    with pytest.raises(S.EmptyTrainingSet, match="empty training set"):
        S.kmeans_centroids(empty, n=4)
    with pytest.raises(S.EmptyTrainingSet, match="empty training set"):
        S.pq_train(empty, m=2, k=4)
    assert issubclass(S.EmptyTrainingSet, ValueError)
    # zero-norm-only corpora are dropped to empty by policy → same error
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(S.EmptyTrainingSet, match="empty training set"):
        S.kmeans_centroids(zeros, n=2)
    # the raise path must not LEAK its persisted training frame: every
    # empty-corpus query run would otherwise pin a cached (empty) RDD for
    # the whole session (ADVICE r11 — try/finally around the fit)
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after == cached_before, (
        "EmptyTrainingSet raise leaked a persisted training frame: "
        f"{cached_before} cached RDDs before, {cached_after} after"
    )


def test_pq_train_k1_codebook_is_subspace_mean(spark):
    """k=1 PQ codebooks are the (unit-normalized) subspace means."""
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    books = S.pq_train(e, m=2, k=1)
    import math

    s = math.sqrt(2.0)
    exp0 = (1.0 + 0.0 + 1.0 / s) / 3.0  # normalized first components
    exp1 = (0.0 + 1.0 + 1.0 / s) / 3.0
    assert [len(b) for b in books] == [1, 1]
    assert abs(books[0][0][0] - exp0) < 1e-12
    assert abs(books[1][0][0] - exp1) < 1e-12


def test_word_shingles_precap_persist_equivalence(spark):
    """r12 optimization: persist=True caches the PRE-cap explode (one
    corpus scan instead of two) — the capped output must be identical to
    the unpersisted path, and the cap must still drop hot shingles."""
    rows = [(i, "alpha beta gamma delta common common common") for i in range(8)]
    rows += [(100, "unique words only here nothing shared at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spark.catalog.clearCache()
    capped_p = D.word_shingles(df, "doc_id", "text", 3, max_doc_freq=5, persist=True)
    capped = D.word_shingles(df, "doc_id", "text", 3, max_doc_freq=5, persist=False)
    assert sorted(map(tuple, capped_p.collect())) == sorted(map(tuple, capped.collect()))
    # the 8 duplicate docs share every shingle (df=8 > 5) -> all dropped;
    # the unique doc's shingles (df=1) survive
    ids = {r["id"] for r in capped_p.collect()}
    assert ids == {100}
    spark.catalog.clearCache()


def test_connected_components_sum_convergence_rounds(spark):
    """Convergence is detected by the edge-set checksum going stable
    (join-free). A diameter-d chain must still converge within d+1
    rounds — the bound the earlier label-propagation check had."""
    chain = [(i, i + 1) for i in range(1, 7)]  # path 1-2-...-7, diameter 6
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r.id: r.rep for r in D.connected_components(pairs, max_rounds=7).collect()}
    assert got == {i: 1 for i in range(1, 8)}


def test_ngram_prefix_filter_boundary_pairs(spark):
    """r12 optimization: ngram_jaccard_pairs switched to prefix-filtered
    candidates (AllPairs/PPJoin) + array_intersect verify. A pair sitting
    EXACTLY on the threshold is the prefix lemma's boundary case — it must
    still be found, with the same jaccard value the posting-count plan
    produced."""
    # docs share exactly 2 of their 4 shingles -> J = 2/(4+4-2) = 1/3
    a = "w1 w2 w3 s1 s2"          # shingles: (w1 w2 w3)(w2 w3 s1)(w3 s1 s2) -> 3... build 6-word docs
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),      # 5 shingles
            (2, "a b c d e x y"),      # 5 shingles, shares 3 -> J = 3/7
            (3, "p q r s t u v"),      # disjoint
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 3 / 7).collect()
    }
    assert (1, 2) in got and abs(got[(1, 2)] - 3 / 7) < 1e-12
    assert all(k == (1, 2) for k in got)
    # threshold epsilon above the true value -> excluded
    none = D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 3 / 7 + 1e-9).collect()
    assert none == []


def test_brute_force_scores_numpy_parity(spark):
    """r12 optimization: brute_force_topk scores via a mapInArrow numpy
    kernel that accumulates dimension-by-dimension — the same left-to-right
    IEEE op sequence as the old JVM aggregate(zip_with) fold — so results
    are BIT-identical, not merely close. Pins the hairy contracts: ragged
    dimensions yield NULL sim (zip_with padding semantics), degenerate
    vectors are dropped by the JVM-side usable_norm filter before the
    Python hop, and output is Arrow-batch-size independent."""
    rows = [
        (0, [1.0] + [0.0] * 63),
        (1, [1.0] + [0.0] * 63),          # exact dup of 0
        (2, [1.0, 0.01] + [0.0] * 62),    # near dup
        (3, [0.0] * 64),                  # zero norm: dropped
        (4, [float("nan")] * 64),         # NaN: dropped
        (5, [1.0, 2.0, 3.0]),             # ragged dim-3
    ]
    adv = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = S.brute_force_topk(adv, adv, k=5).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    # dropped vectors appear on neither side
    assert 3 not in by_query and 4 not in by_query
    assert all(r.neighbor_id not in (3, 4) for r in got)
    # exact dup pair scores 1.0 both ways
    assert [r.sim for r in by_query[0] if r.neighbor_id == 1] == [1.0]
    # ragged pairs present with NULL sim (ranked after non-NULL under DESC)
    ragged = [r for r in got if 5 in (r.query_id, r.neighbor_id)]
    assert ragged and all(
        r.sim is None for r in ragged if r.query_id != r.neighbor_id and 5 in (r.query_id, r.neighbor_id) and (r.query_id == 5) != (r.neighbor_id == 5)
    )
    # batch-size independence
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got2 = S.brute_force_topk(adv, adv, k=5).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_brute_force_mapside_topk_prune(spark):
    """r13 optimization: the Arrow kernel prunes each batch to a provable
    superset of every query's global top-k BEFORE the Python→JVM hop
    (map-side top-k). Pins the three hazards that could make the prune
    drop a needed row: (a) a rounding-tie band — corpus sims differing
    only below the 6th decimal must ALL survive the threshold because the
    final (round(sim,6) DESC, neighbor ASC) order breaks the tie by id;
    (b) duplicate and NULL corpus ids inflating the keep bound (self rows
    the downstream filter removes must not occupy all top slots); (c) the
    prune is gated OFF for float ids where Arrow/Spark equality semantics
    could diverge."""
    import math

    from pyspark.sql import functions as F

    # (a) 40 corpus vectors whose cosines against the query all round to
    # the same 6-decimal value; the winner under the final order is the
    # SMALLEST id, which has the LOWEST raw sim of the band — a threshold
    # without rounding slack would prune it away.
    rows = [(0, [1.0, 0.0])]
    base = 0.1234561
    for i in range(1, 40):
        c_ = base + i * 1e-9
        rows.append((i, [c_, math.sqrt(1.0 - c_ * c_)]))
    for i in range(40, 60):
        c_ = 0.02 + (i - 40) * 1e-3  # clearly below the band
        rows.append((i, [c_, math.sqrt(1.0 - c_ * c_)]))
    ties = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = S.brute_force_topk(ties.filter(F.col("vec_id") == 0), ties, k=3).collect()
        assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3]
        # (b) every id appears 6x plus two NULL-id rows; per-batch keep
        # bound must stretch so true neighbors are not crowded out
        dup_rows = [(i % 5, [1.0, i * 0.01, 0.5]) for i in range(30)]
        dup_rows += [(None, [1.0, 0.0, 0.0]), (None, [0.9, 0.1, 0.0])]
        dup = spark.createDataFrame(dup_rows, "vec_id long, embedding array<double>")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        got_dup = S.brute_force_topk(dup.filter(F.col("vec_id") == 0), dup, k=4).collect()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        got_dup_big = S.brute_force_topk(dup.filter(F.col("vec_id") == 0), dup, k=4).collect()
        # batch-split independence under id duplication + NULL ids, and
        # the self-filter still holds post-prune
        assert sorted(map(tuple, got_dup)) == sorted(map(tuple, got_dup_big))
        assert got_dup and all(r.neighbor_id != r.query_id for r in got_dup)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    # (c) float ids: prune disabled, results still correct
    fids = spark.createDataFrame(
        [(float(i), [float(i) + 1.0, 1.0, 2.0]) for i in range(25)],
        "vec_id double, embedding array<double>",
    )
    got_f = S.brute_force_topk(fids.filter(F.col("vec_id") < 2.0), fids, k=3).collect()
    assert len(got_f) == 6 and all(r.query_id != r.neighbor_id for r in got_f)


def test_mapside_keep_ranks_nan_first():
    """Spark ranks a NaN sim above every number under ``sim DESC``, so the
    map-side prune must keep a NaN row and count it toward the K best. A
    plain ``key <= thr + slack`` test drops it (NaN compares false), and
    np.partition sorts NaN last, so K or more NaN rows in a column made the
    threshold itself NaN and pruned the whole column."""
    import numpy as np

    nan = np.nan
    sims = np.array([
        [0.9, nan],
        [nan, nan],
        [0.5, nan],
        [0.1, 0.3],
        [0.2, 0.0],
    ])
    valid = np.ones_like(sims, dtype=bool)
    valid[4, 1] = False  # a NULL sim: worst key
    keep = S._mapside_keep(sims, valid, 2, 0.0)
    assert keep[:, 0].tolist() == [True, True, False, False, False]
    assert keep[:, 1].tolist() == [True, True, True, False, False]


def test_brute_force_topk_extreme_norms_prune_matches_unpruned(spark):
    """Vectors at both ends of the double range: norms near sqrt(MAX) and
    near sqrt(MIN_SUBNORMAL). A usable norm is the sqrt of a finite sum of
    squares, so it is at most fl(sqrt(MAX)), whose square is finite, and at
    least sqrt(MIN_SUBNORMAL), whose square is positive: qn·cn never
    overflows or underflows and the kernel never scores NaN. The pruned
    ranking (long ids) must equal the unpruned one (double ids turn the
    prune off), with one corpus batch larger than k + id multiplicity."""
    import math

    from pyspark.sql import functions as F

    big, tiny = 1.3e154, 3e-162
    rows = [(0, [big, 0.0])]
    for i in range(1, 25):
        a = i * 0.06
        scale = big if i % 3 else tiny
        rows.append((i, [scale * math.cos(a), scale * math.sin(a)]))
    rows.append((25, [math.sqrt(1.7976931348623157e308), 0.0]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    float_ids = corpus.withColumn("vec_id", F.col("vec_id").cast("double"))

    def ranking(df, qid):
        got = S.brute_force_topk(df.filter(F.col("vec_id") == qid), df, k=4).collect()
        return sorted((r.rank, int(r.neighbor_id), r.sim) for r in got)

    pruned = ranking(corpus, 0)
    assert pruned == ranking(float_ids, 0.0)
    assert len(pruned) == 4 and all(not math.isnan(sim) for _, _, sim in pruned)


def test_operator_cache_ownership_release(spark, sf_dir):
    """r13 (VERDICT r12 item 6): operator-internal persist() calls whose
    consumers are lazy register in the caching module, and
    release_operator_caches() frees every one of them — a long-lived
    session no longer accumulates session-lifetime shingle/doc caches."""
    from etl_open_source_spark.operators.caching import release_operator_caches

    def persistent_ids():
        # includes localCheckpoint RDDs from OTHER tests in the shared
        # session (not CacheManager entries, so clearCache can't drop
        # them) — assert on the DELTA, not on emptiness
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    spark.catalog.clearCache()
    release_operator_caches()
    before = persistent_ids()
    d = load_table(spark, sf_dir, "documents")
    D.ngram_jaccard_pairs(d, "doc_id", "text", 3, 0.5).count()
    D.ngram_containment_pairs(d, "doc_id", "text", 3, 0.6, max_doc_freq=100).count()
    assert persistent_ids() - before
    assert release_operator_caches() >= 2
    assert persistent_ids() <= before
    # idempotent, and safe with actions still unrun
    assert release_operator_caches() == 0


def test_connected_components_string_ids_match_union_find(spark):
    """String ids cluster under string order: rep is the lexicographic
    minimum. Mixed-length digit strings are the hostile case ('10' < '100'
    < '9'): a numeric reading of the ids picks a different rep, and on the
    path 5-8-16-24 the first min-label round keeps the numeric label sum
    at 53, which a sum-based convergence check took for a fixpoint."""

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for e in edges for x in e}

    for edges in (
        [("5", "8"), ("8", "16"), ("16", "24")],
        [("10", "9"), ("9", "100")],
        [("docA", "docB"), ("docB", "docC")],
    ):
        pairs = spark.createDataFrame(edges, "id_a string, id_b string")
        got = {r.id: r.rep for r in D.connected_components(pairs).collect()}
        assert got == union_find(edges)
    assert union_find([("5", "8"), ("8", "16"), ("16", "24")])["5"] == "16"


def test_operators_leave_session_conf_alone(spark, docs, monkeypatch):
    """Operators share the caller's session (other threads may be planning
    in it): running CC, keep-one dedup and the n-gram pair join must not
    set a single session conf."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5, max_doc_freq=100)
    pairs.collect()
    D.connected_components(pairs).collect()
    D.dedup_keep_representatives(docs, pairs, "doc_id").collect()
    monkeypatch.undo()
    assert calls == []
