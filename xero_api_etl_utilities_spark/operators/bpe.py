"""Byte-pair-encoding merge training as a DataFrame program.

The core of tokenizer training (Sennrich et al. 2016; the same loop
HuggingFace ``tokenizers`` runs): collapse the corpus to (word, freq),
split words into symbol sequences, then repeatedly (1) count adjacent
symbol pairs weighted by word frequency, (2) pick the most frequent
pair, (3) greedily merge its non-overlapping occurrences left-to-right
in every word.  No reference counterpart (``src/queries.ts`` is a
bookkeeping ETL); this is the training-data-pipeline operator the
extension mandate calls for.

Scale shape — the same split real trainers use:

* The CORPUS-sized work is the one tokenize + (word, freq) aggregate
  (map-side combinable, shuffles 5-byte words, never documents).
* The merge loop runs on the DISTINCT-WORD frame (vocabulary-sized:
  thousands-to-millions of rows at 100 TB — still a DataFrame, but
  orders of magnitude under the corpus).  Per round: ONE pair-count
  aggregate (zip_with over two slices — lambda-free in its references
  to the symbol column, the token_ngrams CSE lesson) and ONE in-row
  greedy fold to apply the winner; the winning pair itself is a 1-row
  driver scalar (documented bounded-collect pattern, like pagerank's
  vertex count).
* Greedy left-to-right application is a per-row ``aggregate`` fold:
  append each symbol, but if the accumulator tail is the winner's left
  and the incoming symbol its right, replace the tail with the merged
  symbol — non-overlapping by construction ("aaa" + (a,a) → [aa, a]),
  byte-identical to the reference implementation and to the oracle's
  positional gaps-and-islands replay (plans/text_ops.py).

Determinism: ties break (count DESC, left ASC, right ASC) — no RNG,
no order-dependence, so DuckDB replays every round exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.materialize import materialize


def word_symbol_frame(docs: DataFrame) -> DataFrame:
    """(word, freq, syms) — corpus collapsed to its vocabulary with
    per-word frequencies and initial character-level symbol arrays."""
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.withColumn(
        "syms", F.regexp_extract_all(F.col("w"), F.lit("."), 0)
    )


def _pair_counts(frame: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency.

    zip_with over two slices keeps the symbol column OUT of the lambda
    body (Catalyst CSE cannot reach inside lambdas — the measured
    5-9× token_ngrams lesson)."""
    pairs = F.expr(
        "zip_with(slice(syms, 1, size(syms) - 1),"
        "         slice(syms, 2, size(syms) - 1),"
        "         (x, y) -> struct(x AS l, y AS r))"
    )
    return (
        frame.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(frame: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (left, right) in
    every symbol array — a zero-shuffle in-row fold."""
    for s, name in ((left, "left"), (right, "right")):
        if not s.isalnum():  # symbols are [a-z0-9]+ by construction;
            # guard before inlining as SQL literals
            raise ValueError(f"unexpected {name} symbol {s!r}: not alphanumeric")
    merged = left + right
    fold = (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        "case when size(acc) > 0 and element_at(acc, -1) = '{l}' and x = '{r}' "
        "then concat(slice(acc, 1, size(acc) - 1), array('{m}')) "
        "else concat(acc, array(x)) end)"
    ).format(l=left, r=right, m=merged)
    return frame.withColumn("syms", F.expr(fold))


def bpe_merges(docs: DataFrame, rounds: int) -> list[tuple[int, str, str, int]]:
    """Train ``rounds`` BPE merges; returns
    [(round, left_sym, right_sym, pair_count), ...].

    Each round's winner is a deliberate 1-row collect (the merge rule
    IS driver state — it parameterizes the next round's plan, exactly
    like IVF's trained centroids); everything else stays distributed.
    Lineage is truncated per round via :func:`materialize` so round k
    does not replay rounds 1..k-1's folds."""
    frame = materialize(word_symbol_frame(docs))
    out: list[tuple[int, str, str, int]] = []
    for k in range(1, rounds + 1):
        top = (
            _pair_counts(frame)
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        out.append((k, l, r, cnt))
        frame = materialize(_apply_merge(frame, l, r))
    return out
