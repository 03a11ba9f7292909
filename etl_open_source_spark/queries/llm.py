"""LLM-data-pipeline queries (driver mandate, BASELINE.json:6): dedup
(exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding), similarity
search (brute-force + IVF ANN), text analysis (stats, TF, language ID,
quality, tokens, fingerprints), multimodal metadata.

Backed by the operator library in operators/{dedup,similarity,text,
multimodal}.py. Probabilistic/hash-seeded operators are rows-only for the
driver; their invariants (planted-duplicate recall, candidate precision,
ANN recall floor) are pinned by tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators import dedup as D
from etl_open_source_spark.operators import multimodal as M
from etl_open_source_spark.operators import similarity as S
from etl_open_source_spark.operators import text as T
from etl_open_source_spark.registry import query

# CASE-guarded: DuckDB's list_zip(NULL, NULL) yields [] and
# list_reduce([]) is a hard error, so a bare fold crashes the oracle on
# NULL *and* empty embeddings (CASE is the only evaluation order SQL
# guarantees — an AND conjunct is not). NULL in → NULL out, empty in →
# 0.0 (the engine fold's init, so the norm filter drops the row), both
# exactly like the engine's aggregate + usable_norm path.
_DOT = (
    "(CASE WHEN {a} IS NULL OR {b} IS NULL THEN NULL "
    "WHEN LEN({a}) = 0 OR LEN({b}) = 0 THEN 0.0 "
    "ELSE list_reduce(list_transform(list_zip({a}, {b}), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y) END)"
)


def _sql_dot(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


def _sql_usable_norm(v: str) -> str:
    """Oracle twin of operators.similarity.usable_norm: finite positive
    norm. DuckDB also compares NaN > 0 as true, so a bare norm filter
    keeps corrupt vectors; worse, CAST(NaN AS DECIMAL) is a hard DuckDB
    error where Spark yields NULL — non-finite rows must never reach a
    decimal fold."""
    d = _sql_dot(v, v)
    return f"(isfinite(SQRT({d})) AND SQRT({d}) > 0)"


# --------------------------------------------------------------- dedup


@query(
    "q_dedup_exact",
    oracle="""
SELECT doc_id, MD5(text) AS text_md5, lang, source
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
    bench=True,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on text, keeping the lowest doc_id (deterministic —
    dropDuplicates keeps an arbitrary row; this keeps a defined one)."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, ["text"], "doc_id").select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source"
    )


@query(
    "q_dedup_ngram",
    oracle="""
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
sh0 AS (
  -- correlated series: exact at ANY doc length (round-10 multi-MB axis;
  -- the old fixed 128-position cap silently truncated long docs)
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 2)) AS i FROM w)
),
sh AS (
  SELECT * FROM sh0
  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON inter.id_a = sa.doc_id
JOIN sizes sb ON inter.id_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
""",
    bench=True,
    tags=("llm", "dedup"),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.5) via
    inverted-index self-join — the exact baseline for the LSH variants.

    ``max_doc_freq=100`` is the skew guard: a shingle present in >100 docs
    is dropped before the self-join, bounding every posting list (without
    it, one shingle in 1M docs makes 10^12 join rows at scale). Pairs
    similar ONLY through ultra-common shingles are missed by design; the
    oracle mirrors the cap (HAVING COUNT(*) <= 100), and doc sizes are
    computed after the drop on both sides. The engine keys shingles by
    xxhash64 (the oracle by string) — outputs agree unless two distinct
    n-grams collide in 64 bits (p ≈ 1e-9 at fixture scale). The oracle
    shingles via a correlated generate_series over each doc's own word
    count — exact at any doc length (round-10 multi-MB axis)."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100
    )


_NGRAM_PAIRS_CTE = """
w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
sh0 AS (
  -- correlated series: exact at ANY doc length (round-10 multi-MB axis;
  -- the old fixed 128-position cap silently truncated long docs)
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 2)) AS i FROM w)
),
sh AS (
  SELECT * FROM sh0
  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ia AS id_a, ib AS id_b
  FROM inter JOIN sizes sa ON inter.ia = sa.doc_id
             JOIN sizes sb ON inter.ib = sb.doc_id
  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
walk(id, rep) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, wk.rep FROM edges e JOIN walk wk ON e.dst = wk.id
),
cc AS (SELECT id, MIN(rep) AS rep FROM walk GROUP BY id)
"""


@query(
    "q_dedup_clusters",
    oracle=f"WITH RECURSIVE {_NGRAM_PAIRS_CTE} SELECT id, rep FROM cc",
    # not benched: the headline already times the dominant cost (the pair
    # pipeline, as q_dedup_ngram); what CC adds is a few star rounds of
    # joins over the tiny pair graph whose local-mode cost is almost
    # entirely per-round job-scheduling latency, not data-proportional work.
    tags=("llm", "dedup"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: n-gram Jaccard pairs → connected
    components → (id, min-id representative). Pair lists alone can't drive
    keep-one dedup (A~B, B~C must collapse to one group even when A~C was
    never emitted); this is the missing step. Spark side runs
    large-star/small-star rounds (operators/dedup.py connected_components);
    the oracle closes the same pair set with a recursive CTE."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100
    )
    return D.connected_components(pairs)


@query(
    "q_dedup_keep",
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTE}
SELECT doc_id, MD5(text) AS text_md5, lang, source
FROM documents
WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> rep)
""",
    tags=("llm", "dedup"),
)
def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup corpus dedup: keep each cluster's minimum-id
    representative plus every unpaired document — the operation a training
    -data pipeline actually runs (pairs and clusters are intermediates)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100
    )
    return D.dedup_keep_representatives(d, pairs, "doc_id").select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source"
    )


@query("q_dedup_near", oracle=None, bench=True, tags=("llm", "dedup", "approx"))
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4) near-dup, exact-Jaccard-verified
    candidates — the sub-quadratic 100 TB dedup path. Rows-only for the
    driver (hash-seeded); tests pin candidate recall vs q_dedup_ngram."""
    d = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=64, bands=16, threshold=0.5
    )


@query("q_dedup_simhash", oracle=None, tags=("llm", "dedup", "approx"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup: pairs at hamming distance <= 4 (banded 4×16
    candidate join + exact hamming verify)."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(d, "doc_id", "text", max_hamming=4)


@query(
    "q_dedup_embedding_planted",
    oracle=f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE {_sql_usable_norm("embedding")}
),
planted AS (
  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x * 1.5) AS v
  FROM base WHERE vec_id < 25
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND({_sql_dot('a.v', 'b.v')} /
               (SQRT({_sql_dot('a.v', 'a.v')}) * SQRT({_sql_dot('b.v', 'b.v')})), 6) AS sim
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.98
""",
    tags=("llm", "dedup", "approx"),
)
def q_dedup_embedding_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup at the production threshold (0.98) over a corpus
    with planted duplicates: vec_id < 25 re-enter as exact scalar multiples
    (×1.5, ids +1e6). Scaling preserves cosine AND every sign-LSH plane
    sign bit exactly — sign(1.5·d) = sign(d) — so the planted pairs collide
    in every band deterministically and LSH recall is exactly 1 here,
    which is what makes a hash-exact oracle possible for an LSH method:
    the oracle brute-forces all-pairs cosine >= 0.98 and must agree."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double("embedding").alias("embedding")
    )
    copies = e.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.5).alias("embedding"),
    )
    return S.embedding_near_dup_pairs(e.unionByName(copies), threshold=0.98)


@query("q_dedup_embedding", oracle=None, tags=("llm", "dedup", "approx"))
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine high-similarity pairs via sign-LSH banding + exact
    verify. The fixture corpus plants no true embedding dups (max pairwise
    cosine ≈ 0.51), so the threshold is 0.45 to exercise the path end-to-end;
    production near-dup would use ~0.98 (tests/test_llm_ops.py pins that
    planted duplicates at sim≈1.0 are always caught)."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(e, threshold=0.45)


# ---------------------------------------------------------- similarity


_SIM_EXPR = (
    "ROUND(" + _sql_dot("qv", "cv") + " / "
    "(SQRT(" + _sql_dot("qv", "qv") + ") * SQRT(" + _sql_dot("cv", "cv") + ")), 6)"
)


@query(
    "q_sim_topk",
    oracle=f"""
WITH nz AS (SELECT vec_id, embedding AS qv, embedding AS cv FROM embeddings
            WHERE {_sql_usable_norm("embedding")}),
q AS (SELECT vec_id AS query_id, qv FROM nz WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, cv FROM nz),
scored AS (
  SELECT query_id, neighbor_id, {_SIM_EXPR} AS sim
  FROM q CROSS JOIN c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, sim, rnk FROM (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
    bench=True,
    tags=("llm", "similarity"),
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 50 vectors against the whole
    corpus. Similarity rounded to 6dp pre-ranking (with id tiebreak) so the
    ordering is engine-stable; the oracle reproduces Spark's left-to-right
    dot-product fold via DuckDB list_reduce — bit-identical doubles."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 50)
    return S.brute_force_topk(queries, e, k=5).withColumnRenamed("rank", "rnk")


@query("q_sim_ann", oracle=None, tags=("llm", "similarity", "approx"))
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: k-means|| centroids (16 buckets), probe 2 — per-query
    cost drops to ~1/8 of brute force. Rows-only; recall invariants pinned
    in tests (on a planted-cluster corpus, where bucketing has structure
    to exploit — the fixture's uniform-random vectors bound ANY 16-bucket
    IVF's recall).

    Empty-input contract: a corpus with no usable vectors (empty, or
    every vector zero-norm/non-finite) returns an empty result,
    mirroring q_sim_topk's natural empty-in/empty-out. The emptiness
    check is the fit's own first-row probe — kmeans_centroids raises
    EmptyTrainingSet, mapped here to the typed empty frame — so
    non-empty runs pay no extra isEmpty() action (ADVICE r10)."""
    e = load_table(spark, sf_dir, "embeddings")
    try:
        centroids = S.kmeans_centroids(e, n=16, seed=42)
    except S.EmptyTrainingSet:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, sim double, rnk bigint"
        )
    queries = e.filter(F.col("vec_id") < 50)
    return S.ivf_topk(queries, e, centroids, k=5, nprobe=2).withColumnRenamed("rank", "rnk")


@query(
    "q_vector_agg",
    oracle="""
-- correlated series over each vector's OWN length (round-10 audit):
-- the engine posexplodes actual lengths, so a fixed 1..64 series would
-- desync on ragged dimensions (the fixtures are uniform-dim today; the
-- correlated form removes the latent coupling)
SELECT label,
       CAST(i - 1 AS BIGINT) AS pos,
       COUNT(*) AS n_vecs,
       FLOOR((CAST(SUM(CAST(embedding[i] AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS mean_val
FROM (
  SELECT label, embedding, unnest(generate_series(1, LEN(embedding))) AS i
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND LEN(embedding) > 0
    AND COALESCE(list_max(list_transform(embedding,
          x -> CASE WHEN isfinite(x) THEN 0 ELSE 1 END)), 0) = 0
)
GROUP BY label, i
ORDER BY label, pos
""",
    tags=("llm", "similarity"),
)
def q_vector_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation: per-label centroid (elementwise mean),
    flattened to (label, pos, mean) rows. posexplode → groupBy is the
    scalable layout: the shuffle key is (label, pos), so a 10^9-vector
    corpus spreads across the cluster instead of concentrating per label.
    Sums run in DECIMAL(18,8): float32 inputs are exact in 8 decimal
    digits of scale far beyond their precision, and fixed-point addition
    is order-independent — both engines agree bit-for-bit pre-rounding.
    NULL and non-finite vectors are excluded from the centroid whole — a
    corrupt vector contributes to no position (one NaN would otherwise
    poison its positions' means, and DuckDB hard-errors NaN→DECIMAL
    where Spark yields NULL)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.filter(~S.has_nonfinite("embedding"))
        .select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            # decimal sum (exact) → ONE double division; a decimal division
            # would make the output DecimalType, which Spark's pandas
            # bridge returns as Decimal objects vs DuckDB's float64.
            # FLOOR(x·1e6 + 0.5)/1e6, NOT round(x, 6): at a .xxxxxx5 tie
            # (mean of {1.0, 1e-06} = 0.5000005) Java's round goes through
            # BigDecimal.valueOf's SHORTEST decimal repr and HALF_UP (→
            # 0.500001) while DuckDB multiplies-then-rounds the binary
            # value (→ 0.5) — the floor form is the same IEEE op sequence
            # in both engines (randomized embeddings catch).
            (
                F.floor(
                    (
                        F.sum(F.col("val").cast("decimal(18,8)")).cast("double")
                        / F.count(F.lit(1))
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                / F.lit(1000000.0)
            ).alias("mean_val"),
        )
        .select(
            "label",
            F.col("pos").cast("bigint").alias("pos"),
            "n_vecs",
            "mean_val",
        )
        .orderBy("label", "pos")
    )


# ----------------------------------------------------------- text ops


@query(
    "q_text_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '))) AS BIGINT) AS sum_tokens,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(LENGTH(text)) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY lang
ORDER BY lang
""",
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per language: docs, token totals, char totals."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(T.words_col("text"))).cast("bigint").alias("sum_tokens"),
            F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
            (F.sum(F.length("text")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q_text_tf",
    oracle="""
SELECT term, COUNT(*) AS cnt
FROM (SELECT UNNEST(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS term FROM documents)
GROUP BY term
ORDER BY cnt DESC, term
LIMIT 50
""",
    tags=("llm", "text"),
)
def q_text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms by frequency (explode → count — the map-side-combined
    word count)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.words_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(50)
    )


def _sql_hits(lang_words: list[str]) -> str:
    arr = ", ".join(f"'{w}'" for w in lang_words)
    return (
        f"CAST(LEN(LIST_FILTER(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), "
        f"x -> LIST_CONTAINS([{arr}], x))) AS BIGINT)"
    )


@query(
    "q_text_langid",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         {_sql_hits(T.STOPWORDS['de'])} AS hits_de,
         {_sql_hits(T.STOPWORDS['en'])} AS hits_en,
         {_sql_hits(T.STOPWORDS['es'])} AS hits_es,
         {_sql_hits(T.STOPWORDS['fr'])} AS hits_fr,
         {_sql_hits(T.STOPWORDS['zh'])} AS hits_zh
  FROM documents
)
SELECT doc_id, hits_en, hits_fr, hits_de, hits_es, hits_zh,
       CASE WHEN COALESCE(GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh), 0) = 0 THEN 'und'
            WHEN hits_de = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'de'
            WHEN hits_en = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'en'
            WHEN hits_es = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'es'
            WHEN hits_fr = GREATEST(hits_de, hits_en, hits_es, hits_fr, hits_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM h
""",
    tags=("llm", "text"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax of per-language hit counts,
    deterministic lang-code tiebreak). A NULL document is 'und' like an
    empty one — the oracle's argmax COALESCEs its NULL hit counts, which
    would otherwise fall through every CASE arm to the last language
    (caught by the randomized documents differential)."""
    d = load_table(spark, sf_dir, "documents")
    return T.lang_scores(d, "doc_id", "text")


@query(
    "q_text_quality",
    oracle="""
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
       CAST(LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS BIGINT) AS n_tokens,
       ROUND((LENGTH(text) - (LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) - 1)) * 1.0 / LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')), 6) AS avg_token_len,
       CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g')) AS BIGINT) AS n_punct,
       ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g'))) * 1.0 / NULLIF(LENGTH(text), 0), 6) AS punct_ratio,
       CAST(LEN(LIST_FILTER(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> LIST_CONTAINS(['the','of','and','to','in','is','for','with','on','by'], x))) AS BIGINT) AS en_stopwords,
       ROUND(LEN(LIST_FILTER(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' '), x -> LIST_CONTAINS(['the','of','and','to','in','is','for','with','on','by'], x))) * 1.0 / LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')), 6) AS stopword_ratio,
       ROUND(
         (CASE WHEN LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\w\\s]', '', 'g'))) * 1.0 / NULLIF(LENGTH(text), 0) < 0.2 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN (LENGTH(text) - (LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) - 1)) * 1.0 / LEN(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) BETWEEN 2 AND 12 THEN 0.3 ELSE 0.0 END)
       , 2) AS quality_score
FROM documents
""",
    tags=("llm", "text"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features + composite score — the cheap
    pre-filter stage of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return T.quality_features(d, "doc_id", "text")


@query(
    "q_text_tokens",
    oracle=r"""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT) AS ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens,
       CAST(LENGTH(text) AS BIGINT) AS n_chars_c,
       ROUND(LENGTH(text) * 1.0 / NULLIF(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')), 0), 6) AS chars_per_token
FROM documents
""",
    tags=("llm", "text"),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    d = load_table(spark, sf_dir, "documents")
    return T.token_counts(d, "doc_id", "text")


@query(
    "q_text_fingerprint",
    oracle="""
WITH w AS (SELECT doc_id, STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
sh AS (
  -- correlated series: exact at ANY doc length (round-10 multi-MB axis)
  SELECT doc_id, MD5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) AS h
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 4)) AS i FROM w)
)
SELECT doc_id, MIN(h) AS fingerprint FROM sh GROUP BY doc_id
""",
    tags=("llm", "text"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-md5 over word-5-shingles (1-perm MinHash)."""
    d = load_table(spark, sf_dir, "documents")
    return T.fingerprints(d, "doc_id", "text", n=5)


# ---------------------------------------------------------- multimodal


@query(
    "q_multimodal_meta",
    oracle="""
SELECT doc_id AS id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       MD5(text) AS content_md5
FROM documents
WHERE text IS NOT NULL
""",
    tags=("llm", "multimodal"),
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: text → binary payload →
    Arrow-batched mapInPandas metadata extraction (bytes + md5). The Python
    hop is real (one crossing per Arrow batch); the oracle verifies the
    round-trip byte-exactly. NULL payloads emit no row — the operator's
    documented corrupt-media contract (multimodal.py), mirrored by the
    oracle's NULL filter (randomized documents differential)."""
    d = load_table(spark, sf_dir, "documents")
    binary = M.with_binary_column(d, "doc_id", "text")
    return M.extract_binary_metadata(binary)


@query(
    "q_multimodal_decode",
    oracle="""
SELECT doc_id AS id,
       CAST(doc_id % 500 + 16 AS INT) AS width,
       CAST((doc_id * 7) % 500 + 16 AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 7 + 1 ELSE 1 END AS INT) AS n_frames
FROM documents
""",
    tags=("llm", "multimodal"),
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the Arrow-batched stage: each row gets a
    genuinely encoded PNG (signature + IHDR, APNG acTL on every 3rd doc)
    built in-engine from doc_id via hex → unhex, and the header decoder
    (operators/multimodal.py decode_image — no imaging library) parses the
    bytes back. The oracle computes the same dimensions straight from
    doc_id arithmetic, so any byte-construction or parsing slip
    hash-mismatches. mean_luma needs a pixel decode and is excluded."""
    d = load_table(spark, sf_dir, "documents")
    w = F.col("doc_id") % 500 + 16
    h = (F.col("doc_id") * 7) % 500 + 16
    frames = F.col("doc_id") % 7 + 1
    ihdr = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),  # PNG sig + IHDR len/tag
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("080600000000000000"),  # depth/color/comp/filter/interlace + CRC
    )
    actl = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("000000086163544C"),  # len(8) + 'acTL'
            F.lpad(F.hex(frames), 8, "0"),
            F.lit("0000000000000000"),  # num_plays + CRC
        ),
    ).otherwise(F.lit(""))
    binary = d.select(
        F.col("doc_id").alias("id"), F.unhex(F.concat(ihdr, actl)).alias("payload")
    )
    feats = M.extract_image_features(binary, decoder=M.decode_image)
    return feats.select("id", "width", "height", "n_frames")


@query("q_text_bpe_train", oracle=None, tags=("llm", "text"))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus (operators/bpe.py): 12 merge
    rules learned from the word histogram — corpus-sized work only in the
    initial histogram shuffle; every merge round is vocabulary-sized.
    Iterative, so rows-only for the driver; equivalence with a reference
    Python trainer is pinned in tests."""
    from etl_open_source_spark.operators.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    rules = bpe_train(d, "text", num_merges=12)
    return spark.createDataFrame(
        rules, "rank int, left string, right string, freq bigint"
    )


@query(
    "q_text_bpe_step",
    oracle="""
WITH words AS (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '\\s+')) AS word
        FROM documents)
  WHERE word <> ''
  GROUP BY word
),
pairs AS (
  SELECT SUBSTRING(word, i, 1) AS left_sym,
         SUBSTRING(word, i + 1, 1) AS right_sym,
         cnt
  FROM words
  CROSS JOIN UNNEST(GENERATE_SERIES(1, LENGTH(word) - 1)) AS t(i)
)
SELECT left_sym, right_sym, CAST(SUM(cnt) AS BIGINT) AS freq
FROM pairs
GROUP BY left_sym, right_sym
ORDER BY freq DESC, left_sym, right_sym
LIMIT 20
""",
    tags=("llm", "text"),
)
def q_text_bpe_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge-selection step with an exact oracle: weighted
    adjacent-character-pair frequencies over the word histogram, top 20 by
    (freq, pair). This is exactly the argmax computation each
    q_text_bpe_train round runs (operators/bpe.py _bigram_counts on the
    initial character vocabulary) — the full trainer is iterative and
    therefore rows-only for the driver, so this query gives its inner
    arithmetic a hard value-hash check.

    Scale: the corpus-sized work is the word-histogram shuffle; the pair
    table is vocabulary-sized (tiny), and the top-20 cut is a TakeOrdered,
    not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(T.ascii_fold("text"), r"\s+")).alias("word"))
        # >= 2 chars: 1-char words have NO bigram, but Spark's
        # sequence(1, 0) DESCENDS to [1, 0] (DuckDB's GENERATE_SERIES is
        # empty) and would fabricate ('x','x') / ('x','') pairs — the
        # guard operators/bpe.py _bigram_counts applies and this inline
        # twin must mirror (fixture-masked: the spurious counts missed
        # the top-20 cut by 67 at sf0.01)
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        words.select(
            "cnt",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
            "word",
        )
        .select(
            F.expr("substring(word, i, 1)").alias("left_sym"),
            F.expr("substring(word, i + 1, 1)").alias("right_sym"),
            "cnt",
        )
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "left_sym", "right_sym")
        .limit(20)
    )


@query(
    "q_dedup_containment",
    oracle="""
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
sh0 AS (
  -- correlated series: exact at ANY doc length (round-10 multi-MB axis;
  -- the old fixed 128-position cap silently truncated long docs)
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 2)) AS i FROM w)
),
sh AS (
  SELECT * FROM sh0
  WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 100)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
directed AS (
  SELECT id_a AS src, id_b AS dst, i FROM inter
  UNION ALL
  SELECT id_b AS src, id_a AS dst, i FROM inter
)
SELECT d.src, d.dst, CAST(d.i AS DOUBLE) / ss.n AS containment
FROM directed d JOIN sizes ss ON d.src = ss.doc_id
WHERE CAST(d.i AS DOUBLE) / ss.n >= 0.6
ORDER BY src, dst
""",
    tags=("llm", "dedup"),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed partial-duplicate pairs by word-3-gram CONTAINMENT
    (|A∩B|/|A| >= 0.6) — the asymmetric quote/subset detector Jaccard
    resemblance structurally misses (a short doc quoted inside a long one
    has C ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0). Same single inverted-index
    self-join as q_dedup_ngram (each unordered intersection computed
    once; both directions are emitted from its one verified row), same
    max_doc_freq posting cap; exact values, so the oracle matches
    bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6, max_doc_freq=100
    ).orderBy("src", "dst")


@query(
    "q_dedup_clusters_star",
    oracle=f"WITH RECURSIVE {_NGRAM_PAIRS_CTE} SELECT id, rep FROM cc",
    tags=("llm", "dedup"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster formation via LARGE-STAR/SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round algorithm that stays fast when a component's
    DIAMETER is adversarial: a 10^6-node chain costs ~20 rounds, where
    min-label propagation would need 10^6, which is the difference
    between a job and a hang at web-graph scale. It is the engine's one
    CC operator (operators/dedup.py connected_components), so this query
    and q_dedup_clusters run the same plan; both names stay registered
    against the same recursive-CTE oracle. Convergence is detected by an
    edge-set checksum going stable; per-round localCheckpoint truncates
    lineage."""
    d = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=100
    )
    return D.connected_components(pairs)
