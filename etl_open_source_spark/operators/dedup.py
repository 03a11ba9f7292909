"""Deduplication operators for LLM-corpus pipelines (driver mandate,
BASELINE.json:6 — the reference has no text processing at all).

Four families, each with a distinct scale profile:

- exact          : hash group-by; one shuffle on the dedup key.
- n-gram Jaccard : exact set similarity (and containment) via the
                   prefix-filtered join of operators/setjoin.py —
                   O(Σ prefix-postings²) on hot shingles.
- MinHash + LSH  : sub-quadratic near-dup at 100 TB: signatures (one
                   shuffle), banding (hash-bucket join), exact verify only
                   on candidates (setjoin.verify).
- SimHash        : 64-bit fingerprints, hamming-band candidate join.

All JVM-side (built-in functions only — no Python UDFs in any hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_open_source_spark.operators.caching import owned_persist
from etl_open_source_spark.operators.setjoin import candidate_pairs, verify, with_prefix

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per ``keys`` — the one with the smallest
    ``order_col`` (deterministic, unlike dropDuplicates). One shuffle."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------- shingling


def _shingle_expr(n: int, distinct: bool) -> F.Column:
    """The ONE shingle-array expression every n-gram consumer shares
    (over a materialized ``__ws`` words column): a fork of this expression
    silently diverging is a cross-metric inconsistency, not duplication.

    Direct ws[i] indexing codegens ~6x faster than slice()-per-shingle
    (no sub-array allocation per element); multi-arg xxhash64 chains the
    running hash as seed so word boundaries stay unambiguous. The CASE
    guard makes the expression TOTAL on short docs: callers filter
    size(__ws) >= n, but optimizer rules (InferFiltersFromGenerate) can
    re-evaluate the transform on pre-filter rows, where
    sequence(0, size-n) DESCENDS for size < n and __ws[i+1] then
    hard-errors under ANSI (measured crash on a 1-word doc, r12)."""
    terms = ", ".join(f"__ws[i+{j}]" for j in range(n))
    sh = F.expr(
        f"CASE WHEN size(__ws) >= {n} "
        f"THEN transform(sequence(0, size(__ws) - {n}), i -> xxhash64({terms})) "
        f"ELSE array() END"
    )
    return F.array_distinct(sh) if distinct else sh


def _with_words(df: DataFrame, text_col: str) -> DataFrame:
    from etl_open_source_spark.operators.text import ascii_fold

    return df.withColumn("__ws", F.split(ascii_fold(text_col), " "))


def word_shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Per-doc DISTINCT shingle sets as (id, shingles: array<long>) — the
    scan-local (zero-exchange) form of ``word_shingles``: sizes become
    ``size(shingles)``, exact intersections become ``array_intersect``.
    Every set-join consumer builds on this (via ``_doc_sets``, capped or
    not) and skips the explode + groupBy round-trip entirely (r12).
    CAUTION: explode this frame only AFTER a
    persist()/materialization — explode directly over the lazy projection
    lets predicate pushdown rewrite the optimizer's inferred
    size(...)>0 generate-filter in terms of the raw text column, where
    the lambda re-splits the text PER ELEMENT: O(doc²), a measured
    25-minute hang on the multi-MB-doc axis (r12; same class as the
    winnowing hang fixed in operators/text.py)."""
    return (
        _with_words(df, text_col)
        .filter(F.size("__ws") >= n)
        .select(F.col(id_col).alias("id"), _shingle_expr(n, True).alias("shingles"))
    )


def shingle_positions(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows over 64-bit-hashed word n-grams — the exploded
    (inverted-index) view of :func:`_shingle_expr`.

    ``distinct=True`` dedupes within-doc (set semantics); ``False`` keeps
    every position.

    The explode lives in the SAME projection as the words column (no
    intermediate array-column select): with an extra projection boundary,
    the optimizer's inferred generate-filter gets substituted through to
    the raw text column and its lambda re-splits the text per element —
    O(doc²), measured 0.55 s → 92.7 s on one 8000-word doc (r12)."""
    return (
        _with_words(df, text_col)
        .filter(F.size("__ws") >= n)
        .select(
            F.col(id_col).alias("id"),
            F.explode(_shingle_expr(n, distinct)).alias("shingle"),
        )
    )


def word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_doc_freq: int | None = None,
    persist: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles: (id, shingle) with the shingle as a
    64-bit xxhash64 of its n words — the n-gram string is never built
    (no concat allocations) and every downstream join/groupBy keys on an
    8-byte long instead of a ~20-byte string. Collisions merge two
    distinct n-grams with p ≈ |shingles|²/2⁶⁵ (≈1e-9 at 10⁵ shingles;
    ~ppb error in intersection counts at 10¹² — the standard trade in
    shingle-based dedup, and what MinHash does anyway).

    ``max_doc_freq`` drops shingles appearing in more than that many docs
    — the skew guard for the inverted-index join (a shingle in 1M docs
    creates 10^12 join rows); pairs sharing ONLY ultra-common shingles are
    then missed, by design.

    ``persist=True`` caches the PRE-cap explode: the hot-list aggregate and
    every downstream consumer (self-join sides, size counts) then read the
    cached rows instead of re-scanning + re-shingling the corpus — with the
    cap this halves the corpus passes (the old shape persisted the POST-cap
    frame, whose one materialization ran the explode twice: once for the
    hot-list build, once for the anti-join's left side). The returned
    capped frame itself stays lazy — the anti-join is a broadcast hash
    probe per cached row, far cheaper than a second cache. Callers own the
    session-lifetime cache exactly as they did with their own persist()."""
    out = shingle_positions(df, id_col, text_col, n, distinct=True)
    if persist:
        out = owned_persist(out)
    if max_doc_freq is not None:
        # The hot list is |{shingles with df > cap}| — tiny by construction
        # (bounded by corpus_size/cap) — so broadcast it: the anti-join then
        # costs one map-side pass instead of re-shuffling every (id, shingle)
        # pair. The df count itself is map-side-combinable (partial counts
        # per distinct shingle per task), never a full-row shuffle.
        hot = (
            out.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("shingle")
        )
        out = out.join(F.broadcast(hot), "shingle", "left_anti")
    return out


# ------------------------------------------------- exact n-gram Jaccard


def _doc_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, max_doc_freq: int | None
) -> DataFrame:
    """Per-doc sorted distinct shingle arrays ``(id, arr)`` — the SETS
    input of :mod:`operators.setjoin`.

    Uncapped, they are scan-local: no explode, no groupBy. With
    ``max_doc_freq`` the cap is applied ARRAY-SIDE (r13): persist the
    per-doc arrays (one row per doc), build the over-cap hot list by
    exploding OFF that cache (the explode-behind-a-persist shape — the
    O(doc²) inlining trap cannot fire through an InMemoryRelation), fold it
    to a single broadcast row, and subtract per doc with array_except. No
    exchange of every posting row, as a collect_list re-group of the
    exploded index would pay. Docs that lose every shingle keep an empty
    array (no prefix, no candidates).

    The hot list is corpus_size/cap rows by construction (that is what
    makes them hot), so the single collected array stays model-sized at
    any corpus scale."""
    arrays = word_shingle_arrays(df, id_col, text_col, n)
    if max_doc_freq is None:
        return arrays.select("id", F.sort_array("shingles").alias("arr"))
    arrays = owned_persist(arrays)
    hot = (
        arrays.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .agg(F.collect_list("shingle").alias("hot"))
    )
    return arrays.crossJoin(F.broadcast(hot)).select(
        "id", F.sort_array(F.array_except("shingles", "hot")).alias("arr")
    )


def _verified_jaccard(pairs: DataFrame, docs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs over the doc sets, kept if >= threshold."""
    return (
        verify(pairs, docs)
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold, computed exactly —
    the baseline the probabilistic methods are judged against.

    Plan: the symmetric prefix-filter join of :mod:`operators.setjoin`
    over the per-doc shingle sets. J(a,b) >= t implies |a∩b| >=
    t·max(|a|,|b|), so the prefix fraction is t for BOTH docs and the
    candidates come from prefix ⋈ prefix; each candidate is then verified
    exactly with array_intersect.

    [Measured at sf0.1 (5000 docs, 260k shingle rows over 27k distinct
    shingles): the plain posting self-join emitted 1.27M pair rows into a
    1.13M-group count aggregate; the prefix join emits 430k candidate rows
    / 409k distinct pairs and the array verify replaces the pair shuffle:
    warm-cache 1.37 s → 1.01 s, identical 256 output pairs (r12).]

    ``max_doc_freq`` bounds every posting list (see :func:`_doc_sets`);
    without a cap the candidate join is O(Σ prefix-postings²) by design
    (verification baseline only)."""
    docs = with_prefix(_doc_sets(df, id_col, text_col, n, max_doc_freq), threshold)
    return _verified_jaccard(candidate_pairs(docs, symmetric=True), docs, threshold)


# ---------------------------------------------------------- MinHash+LSH


_MERSENNE_31 = (1 << 31) - 1


def _affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal family
    h_i(x) = (a_i·x + b_i) mod (2^31-1): a_i ∈ [1,p), b_i ∈ [0,p).
    Products stay < 2^62 — no long overflow under ANSI mode."""
    consts = []
    s = 0x9E3779B9
    for _ in range(num_hashes):
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        a = (s % (_MERSENNE_31 - 1)) + 1
        s = (s * 1103515245 + 12345) & 0x7FFFFFFF
        b = s % _MERSENNE_31
        consts.append((a, b))
    return consts


def minhash_signatures(shingles: DataFrame, num_hashes: int = 64) -> DataFrame:
    """(id, h0..h{n-1}): elementwise min over the doc's shingle set of the
    universal family h_i(x) = (a_i·x + b_i) mod p, then 64 cheap long
    affine transforms (the standard MinHash trick; 64 independent string
    hashes would cost 64× the CPU). One shuffle; signature size constant
    regardless of doc length. Shingles arrive already 64-bit-hashed from
    word_shingles, so the base value is just a fold into [0, p)."""
    p = _MERSENNE_31
    # fold once per row into a column — 64 agg exprs each re-folding
    # would not be CSE'd across aggregates
    hashed = shingles.withColumn("__hb", F.pmod(F.col("shingle"), F.lit(p)))
    # one F.expr per aggregate instead of a ~6-deep Column composition:
    # the Column API costs a py4j round-trip per node, and 64 aggregates
    # built that way were ~0.7 s of driver time PER QUERY BUILD (measured
    # r12, ~2500 of q_dedup_near's 5554 py4j commands). The parsed SQL is
    # the identical expression tree — same literals, same long promotion,
    # same pmod — so signature values are bit-identical.
    aggs = [
        F.expr(f"min(pmod(__hb * {a} + {b}, {p})) AS h{i}")
        for i, (a, b) in enumerate(_affine_constants(num_hashes))
    ]
    return hashed.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, then EXACT Jaccard verification
    of candidates only (no false positives; recall governed by (bands,
    rows): P(candidate) = 1-(1-j^r)^b ≈ .9998 at j=0.8 with 16×4).

    Scale path: nothing here is quadratic in corpus size — signatures are
    one shuffle, banding is an equi-join on (band, key), verification
    touches only candidate pairs.

    ``max_bucket_size`` is the banding-side skew guard (the analog of
    ``max_doc_freq`` for the shingle join): band keys are 64-bit hashes,
    so two docs share a bucket only when a whole band of their signatures
    agrees — but a *degenerate* corpus (say 1M byte-identical docs) puts
    all of them in the same bucket in EVERY band, and the candidate join
    explodes quadratically per bucket (10¹² pairs at 1M). Buckets are
    materialized with a single ``groupBy(band, key).collect_list(id)``
    and over-cap buckets are filtered out BEFORE pair explosion — one
    shuffle, no persist, no self-join (an earlier hot-list + broadcast
    anti-join + equi-self-join shape cost an extra aggregate and two
    persists for the same semantics). Aggregation memory per bucket is
    8 bytes x bucket size (a 1M-doc degenerate bucket folds an 8 MB
    array), bounded in practice because ``exact_dedup`` runs first so
    identical docs collapse to one representative and never form such
    buckets. Pairs discoverable ONLY through an over-cap bucket are
    missed by design."""
    # Persist per-doc shingle ARRAYS (scan-local to build — no explode, no
    # groupBy), derive the exploded view for the signature aggregate by a
    # scan-local explode off the cache, and verify candidates on the two
    # doc arrays (r12): no sizes groupBy(id), no per-pair intersection
    # count groupBy, and one cached row per doc. The capped variant takes
    # the same path with the cap applied array-side (see _doc_sets).
    docs = owned_persist(_doc_sets(df, id_col, text_col, n, max_doc_freq))
    sh = docs.select("id", F.explode("arr").alias("shingle"))
    sig = minhash_signatures(sh, num_hashes)
    candidates = lsh_candidate_pairs(sig, num_hashes, bands, max_bucket_size)
    return _verified_jaccard(candidates, docs, threshold)


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Banding stage of MinHash-LSH: (id, h0..h{n-1}) signatures →
    distinct candidate (id_a, id_b) pairs, id_a < id_b. Split out of
    ``minhash_lsh_pairs`` so the skew guard's candidate-count bound is
    directly measurable (tests/test_properties.py pins it against a
    degenerate corpus)."""
    rows = num_hashes // bands
    # single parsed expression (identical tree to the old per-Column
    # composition, same int-literal band seed): the Column API paid one
    # py4j round-trip per node — ~0.2 s of driver time per build here
    band_keys = F.expr(
        "array("
        + ", ".join(
            f"xxhash64({b}, " + ", ".join(f"h{b * rows + r}" for r in range(rows)) + ")"
            for b in range(bands)
        )
        + ")"
    )
    banded = sig.select(
        F.col("id"), F.posexplode(band_keys).alias("band", "band_key")
    )
    buckets = banded.groupBy("band", "band_key").agg(
        F.collect_list("id").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


# ------------------------------------------------- cluster formation


def _undirected_canon(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b) → canonical (hi, lo) with hi >= lo, duplicates dropped.
    Self-pairs stay as (x, x) so a node seen only in a self-pair still
    gets a row; a pair with a NULL end becomes (NULL, NULL) — greatest and
    least skip NULLs, so without the guard it would turn into a silent
    self-pair of its other end."""
    both = F.col("id_a").isNotNull() & F.col("id_b").isNotNull()
    return pairs.select(
        F.when(both, F.greatest("id_a", "id_b")).alias("hi"),
        F.when(both, F.least("id_a", "id_b")).alias("lo"),
    ).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """For every center v: connect each strictly-larger neighbor to
    min(Γ(v) ∪ {v}). Keeps connectivity, pulls big ids toward minima."""
    adj = edges.select(F.col("hi").alias("v"), F.col("lo").alias("u")).unionByName(
        edges.select(F.col("lo").alias("v"), F.col("hi").alias("u"))
    )
    mins = adj.groupBy("v").agg(F.min("u").alias("mn"))
    j = adj.join(mins, "v").withColumn("m", F.least("mn", F.col("v")))
    return (
        j.filter(F.col("u") > F.col("v"))
        .select(F.col("u").alias("hi"), F.col("m").alias("lo"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For every center v: link all strictly-smaller neighbors (and v
    itself) to their minimum. Flattens chains into stars."""
    adj = edges.select(F.col("hi").alias("v"), F.col("lo").alias("u"))
    mins = adj.groupBy("v").agg(F.min("u").alias("m"))
    j = adj.join(mins, "v")
    p1 = j.filter(F.col("u") != F.col("m")).select(
        F.col("u").alias("hi"), F.col("m").alias("lo")
    )
    p2 = mins.select(F.col("v").alias("hi"), F.col("m").alias("lo"))
    return p1.unionByName(p2).distinct()


def connected_components(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Group near-dup pairs (id_a, id_b) into clusters: returns (id, rep)
    where ``rep`` is the smallest id in the node's connected component —
    the canonical representative for keep-one dedup. Ids may be of any
    orderable type; string ids take the lexicographic minimum. A NULL id
    raises TypeError; a self-pair (x, x) yields the row (x, x).

    Algorithm: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014). It
    converges in O(log n) rounds independent of component diameter, so a
    10^6-node chain costs ~20 rounds where min-label propagation needs
    10^6. Each round is a few joins/aggregates over the edge list;
    convergence is an edge-set checksum (count + hash-sum) going stable —
    one tiny aggregate per round, and the driver only ever sees one row.
    Raises if the edge set is still changing after ``max_rounds`` rounds:
    a silently partial labeling must never escape."""
    # Canonical edges are materialized ONCE: the pair pipeline feeding this
    # is typically expensive (LSH / n-gram self-join) and must not
    # re-execute. localCheckpoint each round, too: persist() alone leaves
    # the logical plan nested round-over-round and Catalyst re-analysis
    # goes superlinear after ~8 iterations (the classic iterative-DataFrame
    # pitfall); checkpointing truncates lineage to the materialized result.
    canon = _undirected_canon(pairs).localCheckpoint(eager=True)
    proper = F.col("hi") != F.col("lo")
    # one aggregate over the checkpoint: the NULL-id check plus the
    # checksum of the starting edge set (an input that is already a star
    # per component then converges after one round)
    row = canon.agg(
        F.count_if(F.col("hi").isNull()),
        F.count(F.when(proper, 1)),
        # decimal sum: 64-bit hash values overflow a long sum (ANSI)
        F.sum(F.when(proper, F.xxhash64("hi", "lo")).cast("decimal(38,0)")),
    ).collect()[0]
    if row[0]:
        raise TypeError(
            f"connected_components: {row[0]} pair(s) have a NULL id — "
            "filter or fill NULL ids before clustering"
        )
    prev_chk = tuple(row[1:])
    E = canon.filter(proper)
    for _ in range(max_rounds):
        E = _small_star(_large_star(E)).localCheckpoint(eager=True)
        chk = tuple(
            E.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
            ).collect()[0]
        )
        if chk == prev_chk:
            break
        prev_chk = chk
    else:
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds"
        )
    # at convergence E is a star per component: every non-root points at
    # the root. Every root is the lo end of some canonical edge (its own
    # self-pair included), so the canonical lo ids without a label are
    # exactly the roots.
    labels = E.groupBy(F.col("hi").alias("id")).agg(F.min("lo").alias("rep"))
    roots = (
        canon.select(F.col("lo").alias("id"))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("rep", F.col("id"))
    )
    return labels.unionByName(roots)


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep-one-per-cluster dedup: drop every row whose id belongs to a
    near-dup component but is not its minimum-id representative. Rows in
    no pair survive untouched (they are their own component)."""
    # drop set scales with the duplicate count (can be huge) — shuffle
    # anti-join, not broadcast
    drop = connected_components(pairs).filter(F.col("id") != F.col("rep")).select("id")
    return df.join(drop, df[id_col] == drop["id"], "left_anti")


# -------------------------------------------------------------- SimHash


def simhash_bands(
    df: DataFrame, id_col: str, text_col: str, bands: int = 4
) -> DataFrame:
    """64-bit SimHash as 4×16-bit band columns (id, b0..b3).

    Bit i of the fingerprint is the sign of Σ_tokens (±1 by bit i of
    xxhash64(token)). Stored banded so (a) candidate generation is an
    equi-join on any identical band, (b) hamming distance is
    Σ bit_count(xor(band_a, band_b)) without a 64-bit assemble."""
    assert bands == 4, "fixed 4×16 layout"
    from etl_open_source_spark.operators.text import ascii_fold

    words = F.split(ascii_fold(text_col), " ")
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(words)).alias("tok")
    )
    # parsed-expression construction (same trees as the old per-Column
    # composition): 64 sum aggs + 4×16 band folds built via the Column API
    # cost a py4j round-trip per node — ~1000 driver round-trips per build
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(xxhash64(tok), {i}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{i}"
        )
        for i in range(64)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    band_cols = [
        F.expr(
            "CAST(("
            + " + ".join(
                f"CASE WHEN s{b * 16 + j} > 0 THEN {1 << j} ELSE 0 END"
                for j in range(16)
            )
            + f") AS BIGINT) AS b{b}"
        )
        for b in range(4)
    ]
    return sums.select("id", *band_cols)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """Pairs with SimHash hamming distance <= max_hamming. Candidates must
    share at least one exact 16-bit band (pigeonhole: guarantees recall for
    distance <= 3; probabilistic above)."""
    sig = simhash_bands(df, id_col, text_col)
    banded = sig.select(
        "id", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "key")
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(*[F.col(c).alias(f"{c}_a") for c in sig.columns])
    sb = sig.select(*[F.col(c).alias(f"{c}_b") for c in sig.columns])
    hamming = sum(
        F.bit_count(F.col(f"b{i}_a").bitwiseXOR(F.col(f"b{i}_b"))) for i in range(4)
    )
    return (
        cand.join(sa, cand.id_a == sa.id_a)
        .join(sb, cand.id_b == sb.id_b)
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select(cand.id_a, cand.id_b, "hamming")
    )


# ------------------------------------------------ n-gram containment


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed partial-duplicate pairs by n-gram CONTAINMENT:
    C(src→dst) = |shingles(src) ∩ shingles(dst)| / |shingles(src)| —
    the asymmetric cousin of Jaccard resemblance. A short document quoted
    wholesale inside a long one scores C ≈ 1 while its Jaccard stays near
    |src|/|dst| ≈ 0, so resemblance dedup never sees it; containment is
    the quote/boilerplate/subset detector (Broder's original distinction).

    Plan: the ASYMMETRIC prefix-filter join of :mod:`operators.setjoin`.
    A directed pair with C(src→dst) ≥ t has |a∩b| ≥ t·n_src ≥
    t·min(n_a, n_b), so only the SMALLER doc gets a prefix bound (a tiny
    doc can be contained in any suffix of a huge one): candidates come
    from smaller-prefix ⋈ larger-full. The one exact intersection per
    unordered pair is divided by each side's own size to emit both
    directed rows.

    ``max_doc_freq`` bounds every posting list exactly as in the Jaccard
    path."""
    docs = with_prefix(_doc_sets(df, id_col, text_col, n, max_doc_freq), threshold)
    inter = verify(candidate_pairs(docs, symmetric=False), docs)
    directed = inter.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "inter",
        F.col("n_a").alias("n"),
    ).unionAll(
        inter.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "inter",
            F.col("n_b").alias("n"),
        )
    )
    return (
        directed.withColumn("containment", F.col("inter") / F.col("n"))
        .filter(F.col("containment") >= threshold)
        .select("src", "dst", "containment")
    )
