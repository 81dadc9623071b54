"""X34 — lexical retrieval: BM25 scoring over a document corpus.

The classic inverted-index ranking function (Robertson/Sparck Jones;
the `wand`/`block-max` literature's scoring core), expressed the
Spark-first way:

- per-document term frequencies and document length are ZERO-SHUFFLE
  scan projections (higher-order array functions over the token
  array — no explode, no (doc, term) shuffle: the query term set is
  small and fixed, so tf for each term is a `filter(...)` count
  inside the row);
- the corpus-level constants BM25 needs — N, Σdl (→ avgdl) and each
  query term's document frequency — are ONE bounded aggregate
  (`collect()` of a single row, the same documented driver-scalar
  pattern as IVF training); idf is then computed in Python and
  inlined as a literal, which is what makes the DuckDB oracle
  bit-exact: both engines evaluate the identical IEEE expression tree
  on the identical literals, and `ln` (the one transcendental, whose
  last-ulp behavior differs between JVM and libm) never runs inside
  either engine;
- final top-k is a TakeOrdered (`orderBy().limit(k)`) — never a
  global window over the corpus; the k-row result is then ranked on a
  single partition.

At 100 TB the same shape holds: the stats aggregate is one
map-side-combinable pass, scoring is embarrassingly parallel, and
top-k is per-partition heaps + driver merge. For a large/dynamic
query workload you would materialize the posting lists
((term, doc, tf) bucketed by term) once and equi-join queries
against them — this operator is the fixed-query-set form.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = "[a-z0-9]+"
# The standard BM25 term-saturation and length-normalisation constants.
_K1, _B = 1.2, 0.75


def bm25_constants(
    docs: DataFrame,
    query_terms: list[str],
) -> dict:
    """The bounded corpus-stats pass: N, avgdl, per-term df → idf.

    Returns python floats ready to inline as literals on BOTH the
    Spark side and the oracle side (tools generate the DuckDB twin
    from the same numbers via duckdb — see plans/text_ops).
    idf uses the standard non-negative Robertson form
    ln(1 + (N - df + 0.5)/(df + 0.5)).
    """
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    row = docs.select(toks.alias("_toks")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("_toks")).alias("sum_dl"),
        *[
            F.sum(F.array_contains("_toks", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(query_terms)
        ],
    ).collect()[0]
    n, sum_dl = row["n"], row["sum_dl"]
    idf = [
        math.log(1.0 + (n - row[f"df_{i}"] + 0.5) / (row[f"df_{i}"] + 0.5))
        for i in range(len(query_terms))
    ]
    return {
        "n": n,
        "avgdl": sum_dl / n,
        "idf": idf,
        "c_tf": _K1 + 1.0,
        "c_fixed": _K1 * (1.0 - _B),
        "c_len": _K1 * _B,
    }


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k documents for a fixed query term set by BM25.

    Score(D) = Σ_t idf_t · (tf_t·(k1+1)) / (tf_t + k1·(1−b) + k1·b·dl/avgdl)
    with k1 = 1.2 and b = 0.75,
    summed left-to-right over the listed terms (fixed association —
    the oracle mirrors the exact tree). Documents matching no term are
    excluded before ranking.
    """
    cs = bm25_constants(docs, query_terms)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    base = docs.select(F.col("doc_id"), toks.alias("_toks"))
    dl = F.size("_toks").cast("double")
    denom_len = F.lit(cs["c_fixed"]) + F.lit(cs["c_len"]) * (dl / F.lit(cs["avgdl"]))
    score = None
    tf_total = None
    for i, t in enumerate(query_terms):
        tf = F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("double")
        term = F.lit(cs["idf"][i]) * ((tf * F.lit(cs["c_tf"])) / (tf + denom_len))
        score = term if score is None else score + term
        tf_total = tf if tf_total is None else tf_total + tf
    scored = base.select(
        "doc_id", score.alias("_score"), tf_total.alias("_tf_total")
    ).filter(F.col("_tf_total") > 0)
    topk = scored.orderBy(F.desc("_score"), F.asc("doc_id")).limit(k).repartition(1)
    w = Window.orderBy(F.desc("_score"), F.asc("doc_id"))
    return topk.select(
        F.col("doc_id"),
        F.round("_score", 6).alias("score"),
        F.row_number().over(w).cast("int").alias("rank"),
    )
