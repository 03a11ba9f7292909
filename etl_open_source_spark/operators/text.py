"""Text-analysis operators for LLM-corpus pipelines (driver mandate):
language ID, quality scoring, token counting, document fingerprinting.
All built-in JVM functions — no Python UDFs.

TOKENIZATION CONTRACT: every word-level operator here (and the n-gram
shingling in dedup/curation) splits on a SINGLE literal space, mirrored
exactly by the STRING_SPLIT(..., ' ') expressions in the SQL oracles —
the two engines must tokenize bit-identically or every downstream hash
diverges. Consecutive/leading/trailing whitespace therefore yields
empty-string tokens on BOTH sides consistently; corpora with messy
whitespace should run :func:`normalize_ws` FIRST (the CCNet-style
normalization stage), after which the single-space contract is exact.

CASE-FOLDING CONTRACT: folding is ASCII-ONLY (:func:`ascii_fold`,
translate A-Z→a-z), never ``lower()``. Java's full case mapping EXPANDS
some code points (U+0130 'İ' → 'i' + U+0307, two characters) where
DuckDB's simple mapping yields one — a single such character desyncs
token streams, gram indices, and every downstream hash between the
engines (caught by the adversarial fixture's 'İstanbul' document).
translate is per-character and length-preserving in both engines;
dedup/hash pipelines need consistency, not linguistic case folding —
run a proper Unicode case-fold upstream if the corpus requires one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"

#: the oracle-side mirror of :func:`ascii_fold` — use
#: ``SQL_ASCII_FOLD.format(col="text")`` inside oracle SQL strings
SQL_ASCII_FOLD = "translate({col}, '" + _UPPER + "', '" + _LOWER + "')"


def ascii_fold(col: str | Column) -> Column:
    """ASCII-only case folding (see CASE-FOLDING CONTRACT above)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _UPPER, _LOWER)

# Tiny per-language stopword profiles (public common-word lists). The
# heuristic scores a doc per language by stopword hits; argmax wins.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "for", "with", "on", "by"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "pour", "dans"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"],
    "es": ["el", "la", "los", "las", "de", "y", "un", "una", "por", "con"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "他"],
}

# BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
# a public approximation of byte-pair pretokenization (GPT-2 style splits).
TOKEN_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def normalize_ws(text_col: str | Column) -> Column:
    r"""Whitespace normalization — the pre-tokenization cleanup stage:
    collapse every whitespace run (spaces, tabs, newlines, NBSP via \s)
    to one space and strip the ends. Scan-local; run it once at ingest
    and every single-space tokenizer downstream is exact."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def words_col(text_col: str) -> Column:
    """The word tokenizer of the TOKENIZATION CONTRACT above: ASCII-fold,
    split on one literal space. Every word-level operator tokenizes here."""
    return F.split(ascii_fold(text_col), " ")


# PII patterns shared by q_pii_redact and the `pii_redact` spec step —
# deliberately simple, high-recall surface patterns (the production norm
# is regex first, NER second; only the regex tier is dependency-free).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d-]{7,}\d"


def redact_pii(text_col: str | Column) -> Column:
    """Replace emails, IPv4 addresses, and phone numbers with typed
    placeholder tokens. Pure regexp_replace chain: scan-local, JVM-side,
    zero shuffles — runs at scan speed as a map stage at any corpus
    size."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, EMAIL_RE, "[EMAIL]"), IPV4_RE, "[IP]"
        ),
        PHONE_RE,
        "[PHONE]",
    )


def stopword_hits(text_col: str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (JVM lambda filter)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words_col(text_col), lambda x: F.array_contains(sw, x))).cast(
        "bigint"
    )


def lang_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc stopword hit count per language + argmax prediction.
    (n-gram-profile languageID reduces to the same shape: score per language,
    argmax — stopword profiles are the degenerate 1-gram case.)"""
    hits = {lang: stopword_hits(text_col, lang) for lang in STOPWORDS}
    scored = df.select(
        F.col(id_col),
        *[h.alias(f"hits_{lang}") for lang, h in hits.items()],
    )
    # argmax with deterministic tie-break on language code order
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    candidates = [
        F.when((F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang))
        for lang in sorted(STOPWORDS)
    ]
    return scored.withColumn("predicted_lang", F.coalesce(*candidates, F.lit("und")))


def quality_score_col(text_col: str) -> Column:
    """The composite quality score in [0,1] as a pure per-row Column —
    the single definition shared by :func:`quality_features` and the
    ``quality_filter`` spec step (duplicating the formula would let the
    two drift). Scan-local arithmetic, no shuffle."""
    n_chars = F.length(F.col(text_col)).cast("bigint")
    n_tokens = F.size(words_col(text_col)).cast("bigint")
    avg_token_len = (n_chars - (n_tokens - 1)) / n_tokens
    n_punct = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    ).cast("bigint")
    punct_ratio = F.try_divide(n_punct, n_chars)
    return F.round(
        F.when(n_tokens.between(10, 1000), F.lit(0.4)).otherwise(0.0)
        + F.when(punct_ratio < 0.2, F.lit(0.3)).otherwise(0.0)
        + F.when((avg_token_len >= 2) & (avg_token_len <= 12), F.lit(0.3)).otherwise(0.0),
        2,
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1] — the standard cheap pre-filter before expensive LLM
    processing. All ratios are int/int double divisions (deterministic)."""
    n_chars = F.length(F.col(text_col)).cast("bigint")
    toks = words_col(text_col)
    n_tokens = F.size(toks).cast("bigint")
    avg_token_len = (n_chars - (n_tokens - 1)) / n_tokens  # chars minus separators
    n_punct = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    ).cast("bigint")
    # try_divide: an empty doc has 0 chars — punct ratio undefined (NULL,
    # scoring treats it as not-low-punct), mirrored by NULLIF in oracles
    punct_ratio = F.try_divide(n_punct, n_chars)
    en_sw = stopword_hits(text_col, "en")
    stopword_ratio = en_sw / n_tokens
    score = quality_score_col(text_col)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_c"),
        n_tokens.alias("n_tokens"),
        F.round(avg_token_len, 6).alias("avg_token_len"),
        n_punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        en_sw.alias("en_stopwords"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + chars-per-token
    — the token-budget accounting every training pipeline needs."""
    ws = F.size(F.split(F.col(text_col), r"\s+")).cast("bigint")
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)).cast("bigint")
    n_chars = F.length(F.col(text_col)).cast("bigint")
    return df.select(
        F.col(id_col),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        n_chars.alias("n_chars_c"),
        # try_divide: an empty/whitespace-only doc has 0 regex tokens —
        # chars-per-token is undefined (NULL), mirrored by NULLIF in the
        # oracle; plain division is an ANSI error on real corpora
        F.round(F.try_divide(n_chars, bpe), 6).alias("chars_per_token"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 over word n-shingles
    (1-permutation MinHash — winnowing's keep-the-min idea). Stable across
    engines since md5 is standardized.

    The word array MUST materialize as a real column before the shingle
    lambda slices it: a higher-order function INLINES any referenced
    expression per element, so F.slice(<split chain>, i, n) re-splits the
    whole document once per position — O(len²) per doc (243 s for ONE
    200 KB document; 0.5 s with the projection — the round-10 multi-MB
    axis catch, same class as the winnowing lesson)."""
    wdf = df.select(F.col(id_col), words_col(text_col).alias("__words"))
    sh = F.transform(
        F.sequence(F.lit(0), F.size("__words") - n),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__words"), i + 1, n))),
    )
    return wdf.filter(F.size("__words") >= n).select(
        F.col(id_col), F.array_min(sh).alias("fingerprint")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram of the
    lowercased text, slide a w-hash window, and keep the window minimum,
    breaking ties by the RIGHTMOST occurrence; overlapping windows that
    pick the same (position, hash) collapse to one row.

    Guarantee: any shared substring of length >= k + w - 1 between two
    documents yields at least one shared fingerprint — the local-min
    selection is position-independent, which plain every-i-th sampling is
    not. Output (id, pos, fp) rows feed the same inverted-index
    candidate join as q_dedup_ngram to find partial overlaps.

    Engine shape: ZERO exchanges — per-row array arithmetic (gram
    hashes, window slices, min + rightmost-position folds), then one
    explode; cost O(len·w²) per doc with w a small constant. The gram
    hash is a POLYNOMIAL code-point hash, h = fold(cp·B + cp') mod M
    (B=257, M=2^31−1) — pure integer arithmetic identical in DuckDB
    (ascii() yields the code point in both engines). [Measured at sf0.1,
    5000 docs/1.5M chars: md5-per-gram 19.8 s → polynomial 12.9 s →
    8.6 s after also replacing the rightmost-min closure chain with
    reverse+array_position — interpreted-HOF overhead, not hashing, is
    the cost floor.] M=2^31−1 keeps every intermediate < 2^63
    (ANSI-safe) with ~|grams|²/2^32 corpus-wide collisions — winnowing
    tolerates rare false-shared fingerprints; the verify stage prunes
    them. Docs shorter than k select nothing; docs with fewer than w
    grams get a single truncated window (standard winnowing edge
    behavior).

    IMPLEMENTATION NOTE — the gram-hash array MUST materialize as a real
    column between two projections: referencing the `hs` *expression*
    inside the window lambda makes Catalyst inline it per window, i.e.
    O(n) hash evaluations per window = O(n²) per document — measured as
    a hang (500 fixture docs > 4 min with md5). Same for the code-point
    array feeding the hashes.

    Case folding is ASCII-ONLY (translate A-Z→a-z), not lower(): Java
    full case mapping expands some code points (U+0130 'İ' → 'i'+U+0307,
    TWO chars) where DuckDB's simple mapping yields one — a single such
    character would shift every downstream gram index and hash.
    translate is per-character and length-preserving in both engines;
    fingerprinting needs consistency, not linguistic case folding
    (self-review finding)."""
    B, M = 257, (1 << 31) - 1
    # The folded text ALSO materializes as a column first (round-10
    # multi-MB-axis catch): referencing the ascii_fold expression inside
    # the per-character lambda inlines the whole translate chain per
    # character — O(len²) per document, invisible on 300-char fixture
    # docs, a hang on a 200 KB one.
    normed = df.select(F.col(id_col), ascii_fold(text_col).alias("__norm"))
    norm = F.col("__norm")
    n_grams = F.greatest(F.length(norm) - (k - 1), F.lit(0))
    # sequence(1, 0) DESCENDS in Spark — guard the empty case explicitly
    grams_idx = F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
        F.array().cast("array<int>")
    )
    # Code points via split('') — per-CODE-POINT in Spark (supplementary
    # planes stay whole; ascii() yields the code point, the pinned
    # cross-engine contract) — NOT substr(j, 1) per position: UTF8String
    # substring walks bytes from 0 to locate code point j, so a
    # position-indexed transform is O(len²) at the byte level (measured
    # 110 s for ONE 200 KB doc; linear after this change). Empty/NULL
    # text keeps the old contract: empty code-point array.
    cps_arr = F.when(
        F.length(norm) >= 1,
        F.transform(F.split(norm, ""), lambda c: F.ascii(c)),
    ).otherwise(F.array().cast("array<int>"))
    with_cps = normed.select(
        F.col(id_col),
        cps_arr.alias("__cps"),
        grams_idx.alias("__gidx"),
    )
    cps = F.col("__cps")

    def gram_hash(i):
        h = F.element_at(cps, i).cast("bigint")
        for off in range(1, k):
            h = (h * B + F.element_at(cps, i + off)) % M
        return h

    hashed = with_cps.select(
        F.col(id_col),
        F.transform(F.col("__gidx"), gram_hash).alias("__hs"),
    )
    hs = F.col("__hs")
    n_wins = F.greatest(F.size(hs) - (w - 1), F.least(F.size(hs), F.lit(1)))
    wins_idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )

    def select_in_window(j):
        win = F.slice(hs, j, w)
        m = F.array_min(win)
        # rightmost in-window position of the min = mirror of the FIRST
        # position in the reversed window (array_position) — one O(w)
        # primitive instead of a sequence+filter+max closure chain per
        # window (the closure form re-enters the interpreter per element;
        # sf0.1 measured 12.9 s → 8.6 s from this change alone)
        rightmost = F.size(win) - F.array_position(F.reverse(win), m) + 1
        return F.struct(
            (j - 1 + rightmost).cast("bigint").alias("pos"), m.alias("fp")
        )

    # Materialize the per-window selections, THEN dedup against the
    # previous window only: a (pos, fp) can only repeat across the
    # CONTIGUOUS run of windows [pos-w+1, pos] that contain it, so
    # adjacent-compare equals DISTINCT at O(n) — array_distinct over the
    # selection structs is O(n²) struct comparisons per doc (measured
    # ~5x slower at fixture scale, worse with length).
    selected = hashed.select(
        F.col(id_col), F.transform(wins_idx, select_in_window).alias("__sels")
    )
    sels = F.col("__sels")
    deduped = F.filter(
        sels,
        lambda s, i: (i == F.lit(0)) | (s != F.element_at(sels, i)),
    )
    return (
        selected.select(F.col(id_col), F.explode(deduped).alias("s"))
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))
    )
