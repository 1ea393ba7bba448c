"""Text-analysis operators: tokenization, quality, language-ID,
fingerprinting.

All pure Column expressions (whole-stage codegen, no Python in the hot
path); every function is deterministic so results are reproducible
across partitionings and match the DuckDB oracles exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small deterministic stopword lists for the language-ID heuristic.
# Order matters: tie-break picks the first language in LANGS.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "para", "con"],
}
LANGS = list(LANG_STOPWORDS)

QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (regex, multi-space safe)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def avg_word_len(col: Column) -> Column:
    """Mean token length: sum(len)/count as double (exact int sum)."""
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total.cast("double") / F.size(toks)


def digit_ratio(col: Column) -> Column:
    # greatest(len,1): an EMPTY string must score ratio 0, not throw
    # ANSI divide-by-zero (Spark) while the oracle returns inf (DuckDB)
    return (
        F.length(F.regexp_replace(col, r"[^0-9]", "")).cast("double")
        / F.greatest(F.length(col), F.lit(1))
    )


def punct_ratio(col: Column) -> Column:
    # char class kept simple so the SQL oracle mirrors it exactly
    return (
        F.length(F.regexp_replace(col, r"[^.,!?;:]", "")).cast("double")
        / F.greatest(F.length(col), F.lit(1))
    )


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Number of tokens that are stopwords (integer, exact)."""
    toks = tokens(F.lower(col))
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(col: Column, words: list[str] | None = None) -> Column:
    return stopword_hits(col, words or QUALITY_STOPWORDS).cast(
        "double"
    ) / token_count(col)


def quality_score(col: Column) -> Column:
    """Heuristic document-quality score in [0,1].

    Combines length saturation, stopword presence, and low digit/punct
    noise — the standard cheap pre-filter shape for pretraining corpora
    (cf. C4/Gopher rules). Per-row double arithmetic: deterministic.
    """
    n = token_count(col).cast("double")
    length_term = F.least(n / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    noise_term = F.greatest(
        F.lit(0.0), F.lit(1.0) - digit_ratio(col) * 5.0 - punct_ratio(col) * 5.0
    )
    return length_term * 0.3 + stop_term * 0.4 + noise_term * 0.3


def lang_scores(col: Column) -> dict[str, Column]:
    return {lang: stopword_hits(col, words) for lang, words in LANG_STOPWORDS.items()}


def predicted_lang(col: Column) -> Column:
    """Argmax language by stopword hits; 'unknown' when all zero.

    Deterministic tie-break: first language in LANGS order wins.
    """
    scores = lang_scores(col)
    best = F.greatest(*[scores[lang] for lang in LANGS])
    result = F.lit("unknown")
    for lang in reversed(LANGS):  # earlier langs overwrite on tie
        result = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(result)
    return result


# PII scrubbing --------------------------------------------------------------
# Patterns stay inside the RE2-compatible subset (no lookaround, ASCII
# \b/\d classes) so the DuckDB oracle can run the IDENTICAL regexes —
# the same portability discipline as the md5 hashing.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+\d{7,15}", "<PHONE>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def pii_count(col: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (before any redaction)."""
    return F.regexp_count(col, F.lit(PII_PATTERNS[kind][0]))


def redact_pii(col: Column) -> Column:
    """Replace every PII match with its placeholder. Application order
    is the PII_PATTERNS insertion order (email before phone before
    ipv4) — fixed, so engines agree when patterns could overlap."""
    out = col
    for pattern, placeholder in PII_PATTERNS.values():
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def fingerprint(col: Column) -> Column:
    """Whole-document fingerprint over whitespace-normalized lowercase
    text (the md5-of-normalized analogue of a rolling hash)."""
    return F.md5(
        F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))).cast("binary")
    )


def prefix_fingerprint(col: Column, n: int = 80) -> Column:
    """Fingerprint of the first ``n`` characters — catches documents
    that share a head but diverge later (template boilerplate)."""
    return F.md5(F.substring(col, 1, n).cast("binary"))


def ngram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """All word n-gram *occurrences* per document as (id, gram) rows —
    duplicates preserved (unlike :func:`..dedup.shingles`, which
    dedups within the doc). The gram expansion is a per-row array
    transform (no shuffle); only downstream counting shuffles, on
    (id, gram) — the repetition-statistics primitive behind
    Gopher-style quality filters."""
    from optimus_any2any_spark.operators.util import ensure_parallelism

    df = ensure_parallelism(df, F.col(id_col))
    toks = tokens(F.col(text_col))
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return df.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("gram")
    )


def hashed_linear_score(
    col: Column,
    n_buckets: int = 512,
    scale: int = 1000,
) -> tuple[Column, Column, Column]:
    """fastText-style linear quality score over hashed bag-of-words
    features: each token hashes to one of ``n_buckets`` feature
    buckets, the doc's score is the mean bucket weight. The shape of a
    production quality classifier (hash features + broadcast weight
    vector + in-row dot product) with a deterministic stand-in weight
    table — the environment ships no model artifact, so weights derive
    from a Knuth multiplicative mix of the bucket id, giving integers
    in [-scale, scale] that both engines compute exactly.

    Pure per-row Column fold (``F.aggregate`` over the token array):
    zero shuffles, zero Python, linear in bytes scanned — the cheap
    first-pass filter a 100 TB curation run wants.

    Returns ``(n_tokens, weight_sum, score)`` columns; ``score`` is
    round(weight_sum / (scale * n_tokens), 6).
    """
    toks = tokens(col)

    def weight(t: Column) -> Column:
        # bucket = 28-bit md5 prefix mod n_buckets; weight = Knuth
        # multiplicative mix of the bucket → [-scale, scale]. Every
        # intermediate stays < 2^63, so DuckDB's checked int64 and
        # Spark's int64 agree exactly.
        bucket = (
            F.conv(F.substring(F.md5(t.cast("binary")), 1, 7), 16, 10)
            .cast("long") % n_buckets
        )
        return ((bucket * F.lit(2654435761)) % (2 * scale + 1)) - scale

    n_tokens = F.size(toks)
    wsum = F.aggregate(
        F.transform(toks, weight), F.lit(0).cast("long"), lambda a, x: a + x
    )
    # deliberately NOT rounded: the quotient of two exact integers is
    # the same IEEE double in every engine, while round(x, 6) diverges
    # when the double prints as an exact .5 boundary (BigDecimal
    # shortest-repr vs multiply-then-round — seen at sf0.1)
    score = wsum.cast("double") / (F.lit(float(scale)) * n_tokens)
    return n_tokens.cast("long"), wsum, score


def gopher_rules(text: Column) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, app. A —
    MassiveText filtering), adapted to integer-exact arithmetic: every
    ratio threshold is cross-multiplied instead of divided, so rule
    booleans are bit-identical across engines (no float-boundary risk)
    and a DuckDB oracle can mirror them exactly.

    Returned dict is insertion-ordered: rule name -> boolean Column
    (True = passes). All pure Column expressions — at corpus scale this
    is a map-only stage, no shuffle.
    """
    toks = tokens(text)
    ltoks = tokens(F.lower(text))
    wc = F.size(toks).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    dwc = F.size(F.array_distinct(toks)).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda x: x.rlike("[A-Za-z]"))
    ).cast("long")
    n_hash = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ).cast("long")
    # non-overlapping '...' count; replace() is leftmost-non-overlapping
    # in both engines, and the length delta is an exact multiple of 3
    n_ell = (
        (
            F.length(text)
            - F.length(F.replace(text, F.lit("..."), F.lit("")))
        )
        / 3
    ).cast("long")
    stop_hits = None
    for w in QUALITY_STOPWORDS:
        h = F.array_contains(ltoks, w).cast("int")
        stop_hits = h if stop_hits is None else stop_hits + h
    return {
        # 30 <= words <= 80 (Gopher uses 50..100k; bounds tuned to the
        # synthetic corpus' 10..99-word range so the rule discriminates)
        "r_word_count": (wc >= 30) & (wc <= 80),
        # 3.5 <= mean word length <= 5.0, exact: 2*sum >= 7*n, sum <= 5*n
        "r_mean_word_len": (2 * sum_len >= 7 * wc) & (sum_len <= 5 * wc),
        # (count('#') + count('...')) / words <= 0.1
        "r_symbol_ratio": 10 * (n_hash + n_ell) <= wc,
        # >= 80% of words contain an alphabetic character
        "r_alpha_ratio": 5 * n_alpha >= 4 * wc,
        # document contains >= 2 distinct common stopwords
        "r_stopwords": stop_hits >= 2,
        # unique-word ratio >= 0.5 (repetition screen)
        "r_unique_ratio": 2 * dwc >= wc,
    }


def split_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Deterministic portable bucket of a string key: fold the first 7
    md5 hex digits to an int (< 16^7, no sign issues anywhere) mod
    ``n_buckets``. Used for leakage-safe train/valid/test assignment:
    keyed on a CONTENT fingerprint rather than an id, so byte-identical
    documents always land in the same split."""
    return (
        F.conv(F.substring(F.md5(key.cast("binary")), 1, 7), 16, 10)
        .cast("long")
        % n_buckets
    )
