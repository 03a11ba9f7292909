"""Second LLM-data-pipeline batch: document chunking, concat-and-chunk
sequence packing, PII redaction, corpus n-gram statistics.

These are the pre-training data-prep steps that sit between dedup/quality
(queries/llm.py) and the trainer: chunk long documents for embedding or
context windows, pack short documents into fixed token budgets, strip PII,
and build corpus-level n-gram tables. All pure built-in column expressions
— no Python crossing anywhere; every query has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import load_table
from etl_open_source_spark.operators import text as T
from etl_open_source_spark.registry import query

# Chunking parameters: 32-word windows advancing 24 words (8-word overlap),
# the shape an embedding pipeline uses so no sentence is lost at a boundary.
_CHUNK = 32
_STRIDE = 24

# Packing budget: words per training sequence.
_BUDGET = 256


@query(
    "q_doc_chunk",
    oracle=f"""
SELECT doc_id,
       CAST((s - 1) // {_STRIDE} AS INT) AS chunk_id,
       ARRAY_TO_STRING(w[s:s + {_CHUNK - 1}], ' ') AS chunk_text,
       CAST(LEN(w[s:s + {_CHUNK - 1}]) AS INT) AS n_words
FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents)
CROSS JOIN UNNEST(GENERATE_SERIES(1, LEN(w), {_STRIDE})) AS t(s)
""",
    tags=("llm", "chunk"),
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: each doc's word list is cut into
     32-word chunks every 24 words (8-word overlap). One narrow projection +
    explode — fully scan-local, no shuffle at all; output rows stream out of
    the generator so a 100 TB corpus chunks at scan speed.

    The reference has no text operators (its transformers are 0-byte stubs,
    core/transformers/*.py); this is the [EXT] LLM-pipeline surface."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    return (
        d.select("doc_id", w.alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.size("w") - 1, F.lit(_STRIDE))
            ).alias("start"),
            "w",
        )
        .select(
            "doc_id",
            F.floor(F.col("start") / _STRIDE).cast("int").alias("chunk_id"),
            F.array_join(
                F.slice("w", F.col("start") + 1, _CHUNK), " "
            ).alias("chunk_text"),
            F.least(F.size("w") - F.col("start"), F.lit(_CHUNK))
            .cast("int")
            .alias("n_words"),
        )
    )


@query(
    "q_pack_concat",
    oracle=f"""
SELECT doc_id, source, n_words,
       CAST((cum - n_words) // {_BUDGET} AS BIGINT) AS bin_id,
       CAST((cum - n_words) % {_BUDGET} AS BIGINT) AS bin_offset
FROM (
  SELECT doc_id, source, n_words,
         SUM(n_words) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n_words
        FROM documents)
)
""",
    tags=("llm", "pack"),
)
def q_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each source shard,
    documents are concatenated in doc_id order and split into fixed
    256-word training sequences; each doc is assigned the bin where it
    starts plus its offset inside that bin. This is the standard LLM
    pre-training packing layout (docs → contiguous token stream → fixed
    context windows).

    Scale: the running sum partitions by ``source`` (the shard key), so no
    global sort exists — each shard's prefix sum is one partitioned window.
    At 100 TB the shard count is large and bins never cross shards, exactly
    how packing shards are produced in practice."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", n_words.alias("n_words"))
        .withColumn("cum", F.sum("n_words").over(w))
        .select(
            "doc_id",
            "source",
            "n_words",
            F.floor((F.col("cum") - F.col("n_words")) / _BUDGET)
            .cast("bigint")
            .alias("bin_id"),
            ((F.col("cum") - F.col("n_words")) % _BUDGET)
            .cast("bigint")
            .alias("bin_offset"),
        )
    )


# PII patterns restricted to syntax both regex engines (Java util.regex,
# DuckDB RE2) treat identically: character classes, bounded repetition, \d.
from etl_open_source_spark.operators.text import (  # noqa: E402
    EMAIL_RE as _EMAIL,
    IPV4_RE as _IPV4,
    PHONE_RE as _PHONE,
    redact_pii as _redact_pii,
)


@query(
    "q_pii_redact",
    oracle=f"""
SELECT doc_id,
       REGEXP_REPLACE(
         REGEXP_REPLACE(
           REGEXP_REPLACE(
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com from 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 call +1-555-000-1234',
             '{_EMAIL}', '[EMAIL]', 'g'),
           '{_IPV4}', '[IP]', 'g'),
         '{_PHONE}', '[PHONE]', 'g') AS redacted_text
FROM documents
""",
    tags=("llm", "pii"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails, IPv4 addresses, and phone numbers replaced by
    typed placeholder tokens. The fixture corpus carries no PII, so each row
    plants a deterministic email/IP/phone triple first (both engines build
    the identical input), then redacts — the registered query demonstrates
    the actual scrubbing, not a no-op pass over clean text.

    Pure regexp_replace chain: scan-local, JVM-side, zero shuffles; at
    100 TB this runs at scan speed as a map stage."""
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +1-555-000-1234"),
    )
    return d.select("doc_id", _redact_pii(planted).alias("redacted_text"))


@query(
    "q_text_bigrams",
    oracle="""
SELECT w[s] || ' ' || w[s + 1] AS bigram, COUNT(*) AS cnt
FROM (SELECT STRING_SPLIT(text, ' ') AS w FROM documents)
CROSS JOIN UNNEST(GENERATE_SERIES(1, LEN(w) - 1)) AS t(s)
GROUP BY 1
ORDER BY cnt DESC, bigram
LIMIT 50
""",
    tags=("llm", "text"),
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram table, top 50 by frequency (ties broken by bigram text
    so the cut is deterministic). Adjacent-word pairs come from zipping the
    word array with itself shifted by one — array ops only, no
    self-join, no window; then one groupBy with map-side partial
    aggregation and a TakeOrdered(50) instead of a global sort."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(50)
    )


@query(
    "q_text_tfidf",
    oracle="""
WITH terms AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM terms GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
         CAST(tf.tf AS DOUBLE)
         * (n.n_docs / CAST(dfreq.doc_freq AS DOUBLE)) AS score
  FROM tf JOIN dfreq USING (term), n
)
SELECT doc_id, term, tf, doc_freq, score FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term) AS rn
  FROM scored
) WHERE rn <= 5
""",
    tags=("llm", "text"),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per document by TF-IDF (ratio-idf variant:
    score = tf * N/df) — the relevance / keyword-extraction score, all in
    built-in expressions. The ratio form instead of tf * ln(N/df) is a
    deliberate cross-engine-parity choice: JVM Math.log and libm ln differ
    in the last ulp, which breaks the driver's value-hash gate, while the
    ratio is one IEEE divide + one multiply — bit-identical everywhere.
    ``doc_freq`` is emitted so the log variant is a one-line map on top
    (monotone per-term, so per-doc ranking can differ only across terms —
    this query defines its scoring as the ratio form).

    Three aggregations, each map-side combinable: term frequency per
    (doc, term); document frequency per term (the vocabulary table — let
    AQE decide whether it broadcasts, a 100 TB corpus can have a large
    vocabulary); corpus size as a 1-row broadcast. The per-doc top-5
    window is WindowGroupLimit-pruned below the shuffle like
    q_topk_per_group; ties break on the term so the cut is
    deterministic."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(
        "doc_id", F.explode(T.words_col("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") / F.col("doc_freq").cast("double")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "doc_freq", "score")
    )
