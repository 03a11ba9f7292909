"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, duplicated-n-gram quality fractions, embedding
quantization, temperature-weighted domain mixing, character entropy.

These extend the LLM-pipeline surface past dedup/similarity (the
reference has no corpus tooling at all — its transform vocabulary is
"Filtre, map, merge", structure.txt:24). Everything is built-in JVM
expressions (no Python UDFs); shapes are chosen for 100 TB:

- decontamination joins the corpus against a *broadcast* benchmark
  shingle set — the benchmark side is suites like MMLU/GSM8K (thousands
  of docs), always the small side, so the 100-TB corpus is never
  shuffled, only scanned;
- the duplicated-n-gram fraction shuffles (shingle → doc-frequency)
  once, the same inverted-index shape as dedup;
- quantization / entropy / mixing are scan-local per-row expressions
  (mixing adds one dimension-sized aggregate that broadcasts back).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_open_source_spark.operators.dedup import word_shingles
from etl_open_source_spark.operators.sampling import det_hash
from etl_open_source_spark.operators.text import words_col


def decontaminate_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Per corpus doc: how many distinct word ``n``-grams it shares with the
    benchmark set, and with how many distinct benchmark docs.

    The standard pre-training decontamination check (n-gram overlap vs
    eval suites). Benchmark shingles are broadcast — the corpus side is
    scan + map-side hash probe, no shuffle of corpus rows; the per-doc
    count aggregates on the corpus doc id (one map-side-combinable
    shuffle of hit rows only, which are rare)."""
    c_sh = word_shingles(corpus, id_col, text_col, n=n)
    b_sh = (
        word_shingles(benchmark, id_col, text_col, n=n)
        .withColumnRenamed("id", "bench_id")
    )
    hits = c_sh.join(F.broadcast(b_sh), "shingle")
    return (
        hits.groupBy("id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .withColumnRenamed("id", id_col)
    )


def dup_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 4, min_docs: int = 5
) -> DataFrame:
    """Gopher/RefinedWeb-style quality signal: the fraction of a doc's
    n-gram *positions* whose n-gram occurs in at least ``min_docs``
    distinct docs (boilerplate / template share).

    One inverted-index shuffle (shingle → distinct-doc frequency, partial
    counts combine map-side), one join back on the 8-byte shingle hash,
    one per-doc aggregate. Positions are NOT deduped — a doc repeating a
    common n-gram 10 times counts 10 positions, matching the published
    definition.

    The frequent-shingle set is usually tiny (boilerplate n-grams shared
    by >= min_docs docs — 16 bytes/row, web-scale corpora measure it in
    the low millions, tens of MB), so AQE converts the join-back to a
    broadcast at runtime. The hint is deliberately NOT forced: if a
    pathological corpus ever breaks the boilerplate-vocabulary bound, a
    forced broadcast OOMs the executors where AQE instead degrades
    gracefully to a shuffled semi join on the already-partitioned
    shingle hash."""
    from etl_open_source_spark.operators.dedup import shingle_positions

    pos = shingle_positions(df, id_col, text_col, n, distinct=False)
    freq = (
        pos.select("id", "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .filter(F.col("docfreq") >= min_docs)
        .select("shingle")
    )
    flagged = pos.join(freq, "shingle", "left_semi")
    totals = pos.groupBy("id").agg(F.count(F.lit(1)).alias("n_pos"))
    dups = flagged.groupBy("id").agg(F.count(F.lit(1)).alias("dup_pos"))
    return (
        totals.join(dups, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_pos",
            F.coalesce(F.col("dup_pos"), F.lit(0)).alias("dup_pos"),
            F.round(
                F.coalesce(F.col("dup_pos"), F.lit(0)) / F.col("n_pos"), 6
            ).alias("dup_frac"),
        )
    )


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5). Scan-local arithmetic — 4× fewer
    shuffle bytes for every downstream ANN/cluster stage at 100 TB.

    floor(x + 0.5) (round-half-up toward +inf) is used instead of
    round() because round()'s half-rule differs across engines; this
    exact formula reproduces bit-identically anywhere IEEE doubles do.

    A NULL or non-finite vector propagates NULL through every output,
    scale9 included — pinned explicitly because (a) Spark's greatest()
    SKIPS nulls while DuckDB's GREATEST null-handling is
    version-dependent, and (b) a NaN component makes scale NaN, and
    casting floor(NaN) to int is an ANSI runtime error — the CASE gate
    is what keeps the corrupt row from crashing the whole job."""
    from etl_open_source_spark.operators.similarity import has_nonfinite

    bad = F.coalesce(
        F.col(vec_col).isNull() | has_nonfinite(vec_col), F.lit(True)
    )
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))).cast("double")
    scale = F.greatest(absmax, F.lit(1e-12)) / F.lit(127.0)
    scale9 = F.when(~bad, F.round(scale, 9))
    q = F.when(
        ~bad,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
        ),
    )
    return df.select(
        F.col(id_col),
        scale9.alias("scale9"),
        q.alias("qvec"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


def domain_mixture(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    size_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.6,
) -> DataFrame:
    """Deterministic temperature-weighted domain mixing: target share of
    domain d ∝ (Σ size)^alpha (alpha<1 upweights small domains — the
    standard multilingual/domain temperature trick), realized as a
    per-domain Bernoulli rate on the deterministic key hash.

    Domain stats are one dimension-sized aggregate joined back broadcast;
    the keep/drop decision is then a scan-local filter — the 100-TB corpus
    is never shuffled. The rate threshold is materialized as an *integer*
    bucket count (floor after a 3-dp round) so engines that sum the
    domain weights in different orders cannot flip a boundary row.

    Zero total mass (every document empty) leaves the temperature weights
    undefined: the rate is pinned NULL → every row dropped, identically in
    both engines — without the guard Spark ANSI raises DIVIDE_BY_ZERO
    while DuckDB's 0/0 = NaN silently keeps everything (caught by the
    randomized documents differential)."""
    stats = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col(size_col)).cast("double").alias("mass"),
    )
    # unpartitioned windows over the *domain stats* table only — dimension
    # cardinality (#domains), never the corpus
    w_all = Window.partitionBy()
    stats = stats.withColumn("w", F.pow(F.col("mass"), F.lit(alpha))).withColumn(
        "w_tot", F.sum("w").over(w_all)
    )
    total_docs = F.sum("docs").over(w_all)
    rate = F.when(
        F.col("w_tot") > 0,
        F.least(
            F.lit(1.0),
            (F.lit(budget_frac) * total_docs * (F.col("w") / F.col("w_tot")))
            / F.col("docs"),
        ),
    )
    stats = stats.withColumn(
        "keep_buckets",
        F.floor(F.round(rate * 10_000, 3)).cast("bigint"),
    ).select(domain_col, "docs", "keep_buckets")
    coin = F.pmod(det_hash(id_col), F.lit(10_000))
    return (
        df.join(F.broadcast(stats), domain_col)
        .filter(coin < F.col("keep_buckets"))
        .select(id_col, domain_col, "keep_buckets")
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc character-level Shannon entropy (bits/char) — a cheap
    gibberish / low-diversity quality signal. Explode to chars, two
    map-side-combinable aggregates; at 100 TB prefer sampling docs first
    (compose with sample_uniform)."""
    chars = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), "")).alias("ch"))
        .groupBy("id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = chars.groupBy("id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log2(F.col("cnt"))).alias("sum_clog"),
    )
    # H = log2(n) - (1/n) * sum(c*log2 c) — one pass, no per-class division
    return per_doc.select(
        F.col("id").alias(id_col),
        F.col("n").cast("bigint").alias("n_chars"),
        F.round(F.log2(F.col("n")) - F.col("sum_clog") / F.col("n"), 6).alias(
            "entropy_bits"
        ),
    )


def normalize_url(url: Column) -> Column:
    """Canonicalize a URL for corpus dedup: strip fragment, lowercase
    scheme+host, drop a leading ``www.``, drop default ports (:80/:443),
    strip ``utm_*`` tracking params (restoring the ``?`` separator when the
    first query param was stripped), and trim the trailing path slash.
    Pure regexp/string built-ins — scan-local, codegen'd.

    NOTE for oracle writers: Spark's regexp_replace replaces ALL matches;
    DuckDB's replaces the FIRST unless given the 'g' flag — any
    multi-match pattern must carry 'g' on the DuckDB side."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), r"^www\.", ""), r":(443|80)$", ""
    )
    rest = F.regexp_replace(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    rest = F.regexp_replace(rest, r"[?&]utm_[^&#]*", "")
    rest = F.regexp_replace(rest, r"^([^?&]*)&", r"$1?")
    rest = F.regexp_replace(rest, r"/\?", "?")
    rest = F.regexp_replace(rest, r"/$", "")
    # schemeless input isn't a URL — pass it through (fragment-stripped)
    # instead of manufacturing a dangling "://" prefix
    return F.when(scheme == "", nofrag).otherwise(
        F.concat(scheme, F.lit("://"), host, rest)
    )


def rep_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style WITHIN-doc repetition signals (Rae et al. 2021 §A1.1,
    the complement of the cross-doc ``dup_ngram_fraction``): per doc, the
    fraction of word-n-gram positions covered by n-grams occurring >= 2
    times in that same doc (``rep_frac``) and by the single most frequent
    n-gram (``top_frac``). Templated/spammy docs score high on both.

    Plan: explode to (doc, gram), one (doc, gram) counting aggregate, one
    per-doc aggregate — both combine map-side, grams never cross docs so
    the shuffle key is (doc, gram) and skew is bounded by doc length.
    Scan-local per doc; no corpus-wide state at any scale."""
    terms = ", ".join(["' '" if j % 2 else f"__ws[i+{j // 2}]" for j in range(2 * n - 1)])
    grams = F.expr(f"transform(sequence(0, size(__ws) - {n}), i -> concat({terms}))")
    counts = (
        df.withColumn("__ws", words_col(text_col))
        .filter(F.size("__ws") >= n)
        .select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .groupBy("id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rep = F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return (
        counts.groupBy("id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_pos"),
            rep.cast("bigint").alias("rep_pos"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_pos",
            "rep_pos",
            F.round(F.col("rep_pos").cast("double") / F.col("n_pos"), 6).alias(
                "rep_frac"
            ),
            F.round(F.col("top_cnt").cast("double") / F.col("n_pos"), 6).alias(
                "top_frac"
            ),
        )
    )


def cluster_safe_split(
    df: DataFrame, rep_col: str, train_frac: float = 0.9
) -> DataFrame:
    """Leakage-safe train/heldout assignment: the split coin is thrown on
    the duplicate-cluster REPRESENTATIVE, not the row, so every member of
    a cluster lands in the same split — the standard guard against
    train/eval contamination through near-duplicates. Deterministic
    integer hash (``det_hash``) → reproducible anywhere, scan-local, no
    shuffle beyond whatever produced ``rep_col``.

    Compose: exact clusters via a min-id window over the content key (see
    q_split_leakage_safe), near-dup clusters via connected_components on
    minhash_lsh_pairs — both yield a (id, rep) mapping this consumes."""
    # round, don't truncate: int(0.57 * 10_000) floor-truncates the binary
    # float to 5699 and silently shifts the boundary bucket
    buckets = int(round(train_frac * 10_000))
    coin = F.pmod(det_hash(F.col(rep_col)), F.lit(10_000))
    return df.withColumn(
        "split", F.when(coin < buckets, F.lit("train")).otherwise(F.lit("heldout"))
    )
