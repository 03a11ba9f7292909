"""Corpus-curation queries (round 5): benchmark decontamination,
duplicated-n-gram quality fraction, embedding quantization, temperature
domain mixing, character entropy. Operator library: operators/curation.py.

The reference has no corpus tooling (transform vocabulary "Filtre, map,
merge" — structure.txt:24); these are the training-data-pipeline
operators the driver mandate adds as first-class surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators import curation as C
from etl_open_source_spark.operators import text as T
from etl_open_source_spark.operators.sampling import sql_det_hash
from etl_open_source_spark.queries.llm import _sql_usable_norm
from etl_open_source_spark.registry import query

# Deterministic benchmark membership for the decontamination demo: every
# 19th doc plays the role of the held-out eval suite.
_BENCH_PRED = "doc_id % 19 = 0"


@query(
    "q_text_decontaminate",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
sh AS (
  -- correlated series: exact at ANY doc length (round-10 multi-MB axis)
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS s
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 4)) AS i FROM w)
),
corpus AS (SELECT * FROM sh WHERE NOT ({_BENCH_PRED})),
bench  AS (SELECT * FROM sh WHERE {_BENCH_PRED})
SELECT c.doc_id,
       COUNT(DISTINCT c.s) AS n_shared_ngrams,
       COUNT(DISTINCT b.doc_id) AS n_bench_docs
FROM corpus c JOIN bench b ON c.s = b.s
GROUP BY c.doc_id
""",
    tags=("llm", "curation"),
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training decontamination: corpus docs sharing any word-5-gram
    with the (broadcast) benchmark subset, with shared-n-gram and
    benchmark-doc counts. The corpus side is never shuffled — scan +
    broadcast hash probe + hit-only aggregate. Engine keys shingles by
    xxhash64, the oracle by string (collision p ≈ 1e-9, see
    operators/dedup.py shingle_positions)."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.expr(_BENCH_PRED))
    corpus = d.filter(~F.expr(_BENCH_PRED))
    return C.decontaminate_hits(corpus, bench, "doc_id", "text", n=5).orderBy(
        "doc_id"
    )


@query(
    "q_text_dup_ngram_frac",
    oracle="""
WITH w AS (SELECT doc_id, string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ') AS ws FROM documents),
pos AS (
  -- correlated series (unnest form): exact at ANY document length —
  -- the old fixed GENERATE_SERIES(1, 128) silently truncated long
  -- docs (caught by the round-10 multi-MB-document axis)
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
  FROM (SELECT doc_id, ws, unnest(generate_series(1, LEN(ws) - 3)) AS i FROM w)
),
freq AS (
  SELECT s FROM (SELECT DISTINCT doc_id, s FROM pos)
  GROUP BY s HAVING COUNT(*) >= 5
),
tot AS (SELECT doc_id, COUNT(*) AS n_pos FROM pos GROUP BY doc_id),
dup AS (
  SELECT doc_id, COUNT(*) AS dup_pos FROM pos
  WHERE s IN (SELECT s FROM freq) GROUP BY doc_id
)
SELECT t.doc_id, t.n_pos,
       COALESCE(d.dup_pos, 0) AS dup_pos,
       ROUND(CAST(COALESCE(d.dup_pos, 0) AS DOUBLE) / t.n_pos, 6) AS dup_frac
FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
""",
    bench=True,
    tags=("llm", "curation"),
)
def q_text_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb quality signal: fraction of word-4-gram positions
    occurring in ≥5 distinct docs (boilerplate share). One inverted-index
    shuffle + join-back on the 8-byte shingle hash."""
    d = load_table(spark, sf_dir, "documents")
    return C.dup_ngram_fraction(d, "doc_id", "text", n=4, min_docs=5).orderBy(
        "doc_id"
    )


@query(
    "q_embedding_quantize",
    oracle="""
WITH q AS (
  -- scale pinned by CASE on every degenerate form: NULL vector,
  -- NULL/NaN/Inf elements (-> all-NULL outputs), and the EMPTY vector,
  -- whose absmax floor 1e-12 is written out rather than left to
  -- GREATEST(NULL, ...) null-handling, which differs across engines
  SELECT vec_id,
         CASE WHEN embedding IS NULL
                OR COALESCE(list_max(list_transform(embedding,
                     x -> CASE WHEN isfinite(x) THEN 0 ELSE 1 END)), 0) = 1
              THEN NULL
              WHEN LEN(embedding) = 0 THEN CAST(1e-12 AS DOUBLE) / 127.0
              ELSE GREATEST(CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE),
                            1e-12) / 127.0 END AS scale,
         embedding
  FROM embeddings
),
qv AS (
  SELECT vec_id, scale,
         CASE WHEN scale IS NULL THEN NULL
              ELSE list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER)) END AS qvec
  FROM q
)
SELECT vec_id,
       ROUND(scale, 9) AS scale9,
       CASE WHEN qvec IS NULL THEN NULL
            ELSE COALESCE(ARRAY_TO_STRING(qvec, ','), '') END AS qvec_csv,
       -- COALESCE-to-0 only when the array EXISTS: the engine folds an
       -- empty qvec to its 0 init where list_sum([]) is NULL
       CASE WHEN qvec IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(qvec), 0) AS BIGINT) END AS q_sum,
       CASE WHEN qvec IS NULL THEN NULL
            ELSE CAST(COALESCE(list_sum(list_transform(qvec, x -> abs(x))), 0) AS BIGINT) END AS q_l1,
       CAST(list_min(qvec) AS INTEGER) AS q_min,
       CAST(list_max(qvec) AS INTEGER) AS q_max
FROM qv
""",
    tags=("llm", "curation"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (scale =
    max|x|/127, q = floor(x/scale + 0.5)) with exact integer checksums.
    Scan-local; 4× fewer shuffle bytes for every downstream stage.

    The raw int8 array is CSV-joined for the driver compare (the value
    hasher cannot digest array cells) — every element is still verified
    exactly, one string per row, plus the integer checksums."""
    e = load_table(spark, sf_dir, "embeddings")
    q = C.quantize_embeddings(e, "vec_id", "embedding")
    return q.select(
        "vec_id",
        "scale9",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec_csv"),
        "q_sum",
        "q_l1",
        "q_min",
        "q_max",
    )


@query(
    "q_mix_domains",
    oracle=f"""
WITH stats AS (
  SELECT source,
         COUNT(*) AS docs,
         POW(CAST(SUM(n_chars) AS DOUBLE), 0.5) AS w
  FROM documents GROUP BY source
),
rates AS (
  SELECT source, docs,
         CASE WHEN (SELECT SUM(w) FROM stats) > 0 THEN
           CAST(FLOOR(ROUND(
             LEAST(1.0, (0.6 * (SELECT SUM(docs) FROM stats) * w
                          / (SELECT SUM(w) FROM stats)) / docs) * 10000, 3))
             AS BIGINT)
         END AS keep_buckets
  FROM stats
)
SELECT d.doc_id, d.source, r.keep_buckets
FROM documents d JOIN rates r ON d.source = r.source
WHERE ({sql_det_hash("doc_id")}) % 10000 < r.keep_buckets
""",
    tags=("llm", "curation", "sampling"),
)
def q_mix_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture (alpha=0.5 over per-source
    char mass, 60% doc budget), realized as a deterministic per-domain
    Bernoulli rate on the key hash — corpus stays scan-local, stats are
    dimension-sized and broadcast."""
    d = load_table(spark, sf_dir, "documents")
    return C.domain_mixture(
        d, "doc_id", "source", "n_chars", alpha=0.5, budget_frac=0.6
    ).orderBy("doc_id")


@query(
    "q_text_entropy",
    oracle="""
WITH chars AS (
  SELECT doc_id, ch, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
  GROUP BY doc_id, ch
),
per_doc AS (
  SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS sum_clog
  FROM chars GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars,
       ROUND(log2(n) - sum_clog / n, 6) AS entropy_bits
FROM per_doc
""",
    tags=("llm", "curation"),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character-level Shannon entropy (bits/char) — cheap
    gibberish/low-diversity filter. H = log2(n) - (1/n)·Σ c·log2 c, one
    explode + two map-side-combinable aggregates."""
    d = load_table(spark, sf_dir, "documents")
    return C.char_entropy(d, "doc_id", "text").orderBy("doc_id")


@query(
    "q_multimodal_resize",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         CAST(64 + (STRLEN(text) % 512) AS INTEGER) AS src_w,
         CAST(64 + ((STRLEN(text) * 31) % 512) AS INTEGER) AS src_h
  FROM documents
  WHERE text IS NOT NULL
),
fit AS (
  SELECT doc_id, src_w, src_h,
         CASE WHEN src_w >= src_h THEN 256
              ELSE GREATEST(1, CAST(FLOOR(CAST(src_w AS DOUBLE) * 256 / src_h + 0.5) AS INTEGER))
         END AS out_w,
         CASE WHEN src_w >= src_h
              THEN GREATEST(1, CAST(FLOOR(CAST(src_h AS DOUBLE) * 256 / src_w + 0.5) AS INTEGER))
              ELSE 256
         END AS out_h
  FROM dims
)
SELECT doc_id AS id, src_w, src_h, out_w, out_h,
       MD5(doc_id || ':' || out_w || 'x' || out_h) AS resized_md5
FROM fit
""",
    tags=("llm", "multimodal"),
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize pipeline stage over binary payloads: Arrow-batched
    mapInPandas decodes dims (stub decoder — no media libs in container,
    operators/multimodal.py fake_decode_image) and computes the
    aspect-preserving letterbox fit into 256×256. The stub decode and
    resized-payload bytes are deterministic arithmetic on the payload, so
    the WHOLE Python stage — batch plumbing included — value-hash matches
    an exact SQL oracle; a real decoder swaps in as one argument. NULL
    payloads emit no row (multimodal.py corrupt-media contract; the
    oracle's NULL filter mirrors it)."""
    from etl_open_source_spark.operators.multimodal import (
        resize_images,
        with_binary_column,
    )

    d = load_table(spark, sf_dir, "documents")
    payloads = with_binary_column(d, "doc_id", "text")
    return resize_images(payloads, target_w=256, target_h=256)


@query(
    "q_multimodal_framesample",
    oracle="""
SELECT doc_id,
       CAST(ts_ms AS BIGINT) AS ts_ms,
       CAST(FLOOR(ts_ms * 24.0 / 1000.0 + 0.5) AS BIGINT) AS frame_no
FROM (
  SELECT doc_id, unnest(generate_series(0, n_chars * 100, 1000)) AS ts_ms
  FROM documents
)
""",
    tags=("llm", "multimodal"),
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: one row per 1 s sample point with the
    nearest frame number at 24 fps (duration stub: n_chars × 100 ms —
    real metadata drops in as a column). Pure JVM sequence+explode,
    scan-local; the expensive per-frame decode then touches exactly these
    rows."""
    from etl_open_source_spark.operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") * 100).alias("duration_ms")
    )
    return sample_frames(d, "doc_id", "duration_ms", fps=24.0, every_ms=1000)


_KNN_SIM = (
    "ROUND(list_reduce(list_transform(list_zip(qv, cv), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y) / "
    "(SQRT(list_reduce(list_transform(list_zip(qv, qv), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y)) * "
    "SQRT(list_reduce(list_transform(list_zip(cv, cv), "
    "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (x, y) -> x + y))), 6)"
)


@query(
    "q_sim_knn_graph",
    oracle=f"""
WITH nz AS (SELECT vec_id, embedding FROM embeddings
            WHERE {_sql_usable_norm("embedding")}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM nz),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM nz),
scored AS (
  SELECT query_id, neighbor_id, {_KNN_SIM} AS sim
  FROM q CROSS JOIN c
  WHERE query_id <> neighbor_id
),
knn AS (
  SELECT query_id, neighbor_id, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rnk
  FROM scored
  QUALIFY rnk <= 3
)
SELECT a.query_id, a.neighbor_id, a.sim, a.rnk,
       (b.query_id IS NOT NULL) AS mutual
FROM knn a
LEFT JOIN knn b
  ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id
""",
    tags=("llm", "similarity"),
)
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine 3-NN graph over the whole embedding table with a
    mutual-edge flag (reverse edge also in the other node's top-3) — the
    building block for semantic-dedup clustering (mutual-kNN components).

    Exactness baseline: all-pairs is O(n²) by definition and quarantined
    to verification scale; the 100 TB path builds the same edges from IVF
    buckets (q_sim_ann) or sign-LSH bands (q_dedup_embedding) and feeds
    them to the identical mutual-flag join, which is |V|·k sized — tiny.
    The mutual join keys on (query_id, neighbor_id) pairs, n·k rows."""
    from etl_open_source_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    knn = brute_force_topk(e, e, k=3).withColumnRenamed("rank", "rnk")
    rev = knn.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
        F.lit(True).alias("rev"),
    )
    return (
        knn.join(rev, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            "rnk",
            F.coalesce(F.col("rev"), F.lit(False)).alias("mutual"),
        )
    )


_RAW_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END"
    " || source || '.Example.COM'"
    " || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END"
    " || '/Docs/' || CAST(doc_id % 50 AS STRING) || '/?utm_source=feed'"
    " || CAST(doc_id AS STRING) || '&ref=' || source || '&utm_campaign=c'"
    " || CAST(doc_id AS STRING) || '#sec' || CAST(doc_id AS STRING))"
)


@query(
    "q_url_normalize",
    oracle="""
WITH raw AS (
  SELECT doc_id, source,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END
     || source || '.Example.COM'
     || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
     || '/Docs/' || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed'
     || CAST(doc_id AS VARCHAR) || '&ref=' || source || '&utm_campaign=c'
     || CAST(doc_id AS VARCHAR) || '#sec' || CAST(doc_id AS VARCHAR)) AS url
  FROM documents
),
n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
parts AS (
  SELECT doc_id,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(
        lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        '^www\\.', ''), ':(443|80)$', '') AS host,
    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
  FROM n1
),
fixed AS (
  SELECT doc_id, scheme || '://' || host ||
    regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(rest, '[?&]utm_[^&#]*', '', 'g'),
        '^([^?&]*)&', '\\1?'), '/\\?', '?'), '/$', '') AS url_norm
  FROM parts
)
SELECT doc_id, url_norm,
       CAST(COUNT(*) OVER (PARTITION BY url_norm) AS BIGINT) AS n_same
FROM fixed
""",
    tags=("llm", "curation"),
)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for corpus dedup: strip fragment + utm_*
    params + default port + www., lowercase scheme/host, trim trailing
    slash; n_same counts docs collapsing to the same canonical URL.
    Raw URLs are manufactured deterministically from (doc_id, source) —
    messy case/port/tracking variants that canonicalize into collisions.
    Scan-local regexp chain + one window on the canonical key.
    (Oracle note: DuckDB regexp_replace needs 'g' where Spark's is
    always-global — see operators/curation.py normalize_url.)"""
    from etl_open_source_spark.operators.curation import normalize_url

    d = load_table(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.expr(_RAW_URL_SQL).alias("url"))
    from pyspark.sql import Window as W

    out = raw.select("doc_id", normalize_url(F.col("url")).alias("url_norm"))
    return out.withColumn(
        "n_same", F.count(F.lit(1)).over(W.partitionBy("url_norm")).cast("bigint")
    )


@query(
    "q_text_lm_score",
    oracle="""
WITH w AS (
  SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS word
  FROM documents
),
freq AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
n AS (SELECT SUM(cnt) AS total FROM freq),
scored AS (
  SELECT w.doc_id, log2(CAST(f.cnt AS DOUBLE) / n.total) AS logp
  FROM w JOIN freq f USING (word) CROSS JOIN n
)
SELECT doc_id,
       COUNT(*) AS n_words,
       ROUND(SUM(logp) / COUNT(*), 6) AS avg_log2p
FROM scored GROUP BY doc_id
""",
    tags=("llm", "curation"),
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean log2-probability of a doc's words
    under the corpus unigram distribution (the cheapest perplexity proxy —
    gibberish and off-distribution docs score low). Two aggregates + one
    join against the vocabulary-sized frequency table. The vocab join is
    deliberately UNhinted (mirrors operators/curation.py:76-78): a web-
    scale vocabulary — noisy tokens push distinct words into the hundreds
    of millions — OOMs a forced broadcast, while AQE broadcasts it when
    the runtime size qualifies and degrades to a shuffle join when it
    doesn't. Train the frequency table on a SAMPLE at 100 TB — compose
    with sample_uniform."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(T.words_col("text")).alias("word")
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    logp = F.log2(F.col("cnt").cast("double") / F.col("total"))
    return (
        words.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", logp.alias("logp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.sum("logp") / F.count(F.lit(1)), 6).alias("avg_log2p"),
        )
    )


@query(
    "q_multimodal_audio_chunks",
    oracle="""
WITH b AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
pieces AS (
  SELECT doc_id,
         CAST((i - 1) // 100 AS INTEGER) AS chunk,
         16 * (strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1)
            + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS byteval
  -- correlated series: exact at ANY payload size (round-10 multi-MB
  -- axis; the old fixed 4096-byte cap silently truncated large blobs)
  FROM (SELECT doc_id, h, unnest(generate_series(1, strlen(h) // 2)) AS i FROM b)
)
SELECT doc_id AS id, chunk,
       CAST(COUNT(*) AS INTEGER) AS n_bytes,
       CAST(SUM(byteval) AS BIGINT) AS energy
FROM pieces GROUP BY doc_id, chunk
""",
    tags=("llm", "multimodal"),
)
def q_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing over binary payloads: 100-byte chunks (stand-in
    for fixed-duration PCM windows) with per-chunk energy. The Arrow-
    batched Python stage uses deterministic byte arithmetic, so the whole
    mapInPandas hop value-hash matches the SQL oracle. The oracle walks
    the hex encoding of the UTF-8 payload so it is BYTE-faithful — the
    previous ascii(substr(...)) form silently counted code points and
    diverged on any non-ASCII document (caught by the adversarial
    fixture suite). The 4096-position series bounds fixture docs ≤4096
    UTF-8 bytes — the engine has no such bound."""
    from etl_open_source_spark.operators.multimodal import (
        chunk_audio,
        with_binary_column,
    )

    d = load_table(spark, sf_dir, "documents")
    payloads = with_binary_column(d, "doc_id", "text")
    return chunk_audio(payloads, chunk_bytes=100)
