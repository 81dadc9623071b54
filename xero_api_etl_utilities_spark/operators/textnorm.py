"""X3b — text normalization and corpus-hygiene operators.

No reference counterpart (the reference normalizes nothing); mandated
by the north-star training-data-pipeline surface: before a corpus is
deduped or packed it gets normalized (case/whitespace/unicode), PII is
masked, per-document repetition is measured, and benchmark
contamination is swept.

Everything except unicode normalization is built-in column
expressions (regexp_replace / higher-order array functions) —
JVM-side, codegen'd, linear scans. Unicode NFC is the one step Spark
has no built-in for, so it is the deliberate showcase of the UDF
policy's escape hatch: an Arrow-batched pandas UDF (never
row-at-a-time), oracle-checked against DuckDB's ``nfc_normalize``.

Scale design:
- normalization/masking/repetition are per-row projections — no
  shuffle at all, embarrassingly parallel at 100 TB;
- decontamination broadcasts the benchmark n-gram set (benchmarks are
  tiny next to a training corpus), so the corpus-side scan is
  map-side only: explode → broadcast-hash semi-join → partial count,
  one shuffle of (doc_id, count) partials only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from xero_api_etl_utilities_spark.operators.dedup import token_ngrams, tokens

# Java-regex and RE2 (DuckDB) compatible patterns: no lookaround, no
# backreferences, so one pattern string serves both engines.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PATTERN = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
LONG_ID_PATTERN = "[0-9]{9,}"
CONTROL_PATTERN = "[\\x00-\\x08\\x0b-\\x1f\\x7f]"


def normalize_text(text: Column) -> Column:
    """Canonical text form: lowercase, control chars → space, all
    whitespace runs collapsed to single spaces, trimmed.

    Pure built-ins (Spark regexp_replace replaces ALL matches; the
    DuckDB twin needs the explicit 'g' flag)."""
    s = F.lower(text)
    s = F.regexp_replace(s, CONTROL_PATTERN, " ")
    s = F.regexp_replace(s, "\\s+", " ")
    return F.trim(s)


@F.pandas_udf(StringType())
def nfc(texts: pd.Series) -> pd.Series:
    """Unicode NFC normalization as an Arrow-batched pandas UDF.

    The one normalization step with no Spark built-in. Kept separate
    from :func:`normalize_text` so the pure-JVM path stays UDF-free;
    oracle twin is DuckDB's ``nfc_normalize`` (both implement UAX#15,
    so composed output is bit-identical)."""
    import unicodedata

    return texts.map(
        lambda t: unicodedata.normalize("NFC", t) if t is not None else None
    )


def mask_pii(text: Column) -> Column:
    """Redact emails, long digit identifiers, and phone numbers.

    Order matters: emails first (their local parts may contain
    digits), then bare ≥9-digit identifiers (before phones, because a
    9-digit run also satisfies the looser phone shape), then
    separator-formatted phone runs. Patterns are RE2-safe so the
    DuckDB oracle uses the same strings (with the 'g' flag — DuckDB
    replaces only the first match by default)."""
    s = F.regexp_replace(text, EMAIL_PATTERN, "[EMAIL]")
    s = F.regexp_replace(s, LONG_ID_PATTERN, "[ID]")
    return F.regexp_replace(s, PHONE_PATTERN, "[PHONE]")


def repetition_stats(text: Column) -> dict[str, Column]:
    """Within-document word-bigram repetition measures.

    Returns integer columns (no float ratios in hashed outputs):
    total bigrams, distinct bigrams, the max occurrence count of any
    single bigram, and a ``repetitive`` gate via integer
    cross-multiplication (duplicated fraction ≥ 30%).

    All higher-order array functions over the per-row token array —
    no explode, no shuffle. The max-occurrence count is a run-length
    fold over the SORTED n-gram array: O(total log total) per
    document. (The naive transform(distinct, filter(...)) form is
    O(distinct × total) — on a small-vocabulary corpus where every
    possible n-gram occurs, that shape measured ~100× slower.)"""
    tok = tokens(text)
    ng = token_ngrams(tok, 2)
    total = F.size(ng).cast("bigint")
    distinct = F.size(F.array_distinct(ng)).cast("bigint")
    zero = F.lit(0).cast("bigint")
    fold = F.aggregate(
        F.array_sort(ng),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            zero.alias("run"),
            zero.alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint")),
            ).alias("best"),
        ),
    )
    max_rep = fold["best"]
    return {
        "n_ngrams": total,
        "n_distinct": distinct,
        "max_repeat": max_rep,
        # duplicated-ngram fraction (total-distinct)/total >= 0.3,
        # cross-multiplied so the gate is exact integer math
        "repetitive": (total > 0) & (10 * (total - distinct) >= 3 * total),
    }


def ngram_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Benchmark decontamination sweep: for each training document,
    how many distinct word trigrams it shares with the benchmark set.

    Returns (id_col, n_shared) for documents with ≥1 shared n-gram —
    the rows a real pipeline would quarantine. The benchmark n-gram
    set is broadcast (benchmarks are thousands of documents; training
    corpora are billions), so the train-side pass is scan → explode →
    broadcast semi-join → partial count: the only shuffle carries
    (doc_id, partial_count) pairs.

    Trigrams, not the GPT-3-style 8-gram collision rule: at this
    corpus's 30 distinct words, 8-gram collisions essentially never
    occur by chance.
    """
    bench_ngrams = (
        benchmark.select(
            F.explode(
                F.array_distinct(token_ngrams(tokens(F.col(text_col)), 3))
            ).alias("ng")
        )
        .distinct()
    )
    train_ngrams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(token_ngrams(tokens(F.col(text_col)), 3))).alias(
            "ng"
        ),
    )
    return (
        train_ngrams.join(F.broadcast(bench_ngrams), "ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
