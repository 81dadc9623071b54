"""Round-4 corpus-quality + lexical-retrieval queries.

- text_gopher_rules: the Gopher-paper document-quality rule pack
  (operators/textstats.gopher_rules) — per-rule booleans so a
  training pipeline can report WHY a doc was dropped.
- text_bm25_topk: BM25 top-k retrieval for a fixed query term set
  (operators/retrieval.py) — the inverted-index scoring classic,
  oracle bit-exact via driver-inlined idf/avgdl literals.

Reference provenance: the reference ETL (src/queries.ts) has no text
tier at all; these extend the training-data-pipeline surface the
brief requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table

BM25_TERMS = ["spark", "window", "merge"]
BM25_K = 10


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X35 — Gopher-style quality rule pack over documents: five
    independent boolean rules (word-count bounds, mean-word-length
    bounds, symbol ratio, alpha-word fraction, distinct stopwords)
    plus the conjunction. One zero-shuffle scan projection; every
    threshold is integer cross-multiplied so the oracle hash is
    float-free."""
    from xero_api_etl_utilities_spark.operators.textstats import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    r = gopher_rules(F.col("text"))
    keep = (
        r["rule_word_count"]
        & r["rule_mean_word_len"]
        & r["rule_symbol_ratio"]
        & r["rule_alpha_words"]
        & r["rule_stopwords"]
    )
    return docs.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_stop_distinct"].alias("n_stop_distinct"),
        r["rule_word_count"].alias("rule_word_count"),
        r["rule_mean_word_len"].alias("rule_mean_word_len"),
        r["rule_symbol_ratio"].alias("rule_symbol_ratio"),
        r["rule_alpha_words"].alias("rule_alpha_words"),
        r["rule_stopwords"].alias("rule_stopwords"),
        keep.alias("keep"),
    )


_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_word_chars,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols,
    CAST(len(list_intersect(list_distinct(toks),
         ['the','a','and','of','to','in','is','it','for','on'])) AS BIGINT) AS n_stop_distinct,
    CAST(greatest(len(toks), 1) AS BIGINT) AS w
  FROM t
)
SELECT doc_id, n_words, n_stop_distinct,
  (n_words >= 30 AND n_words <= 500) AS rule_word_count,
  (3 * w <= COALESCE(n_word_chars, 0) AND COALESCE(n_word_chars, 0) <= 10 * w) AS rule_mean_word_len,
  (10 * n_symbols <= 1 * w) AS rule_symbol_ratio,
  (5 * n_alpha_words >= 4 * n_words) AS rule_alpha_words,
  (n_stop_distinct >= 2) AS rule_stopwords,
  ((n_words >= 30 AND n_words <= 500)
   AND (3 * w <= COALESCE(n_word_chars, 0) AND COALESCE(n_word_chars, 0) <= 10 * w)
   AND (10 * n_symbols <= 1 * w)
   AND (5 * n_alpha_words >= 4 * n_words)
   AND (n_stop_distinct >= 2)) AS keep
FROM m
"""

register("text_gopher_rules", text_gopher_rules, _GOPHER_ORACLE)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34 — BM25 top-10 for the fixed query {spark, window, merge}.
    Corpus constants (N, avgdl, per-term df→idf) come from ONE bounded
    aggregate and inline as literals, so `ln` never runs inside either
    engine and the oracle's IEEE expression tree is bit-identical.
    Scoring is a zero-shuffle projection (per-term tf via higher-order
    array filter — no explode); top-k is TakeOrdered, never a global
    window over the corpus."""
    from xero_api_etl_utilities_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=BM25_K)


def _bm25_score_exprs() -> tuple[str, str]:
    """(score_expr, tf_total_expr) for the DuckDB twin: recompute the
    SAME constants from the parquet via duckdb + the same python
    math.log, inline them, and mirror the Spark expression tree
    literal-for-literal, paren-for-paren. Shared by the bm25 oracle
    and the two-stage rerank oracle (identical stage-1 shortlist)."""
    import math
    import os as _os

    import duckdb

    sf_dir = oracle_sf_dir()
    path = _os.path.join(sf_dir, "documents.parquet")
    con = duckdb.connect()
    df_cols = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    row = con.execute(
        f"""
        WITH t AS (
          SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM '{path}'
        )
        SELECT COUNT(*) AS n, SUM(len(toks)) AS sum_dl, {df_cols} FROM t
        """
    ).fetchone()
    n, sum_dl, dfs = int(row[0]), int(row[1]), [int(x) for x in row[2:]]
    k1, b = 1.2, 0.75
    avgdl = sum_dl / n
    c_tf, c_fixed, c_len = k1 + 1.0, k1 * (1.0 - b), k1 * b
    idf = [math.log(1.0 + (n - d + 0.5) / (d + 0.5)) for d in dfs]
    # mirror: score = ((t0 + t1) + t2), term_i = idf_i * ((tf*C_TF) /
    # (tf + (C_FIXED + C_LEN * (dl / AVGDL))))
    terms = []
    tfs = []
    for i, t in enumerate(BM25_TERMS):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        tfs.append(tf)
        terms.append(
            f"({idf[i]!r} * (({tf} * {c_tf!r}) / ({tf} + ({c_fixed!r} + {c_len!r}"
            f" * (CAST(len(toks) AS DOUBLE) / {avgdl!r})))))"
        )
    return " + ".join(terms), " + ".join(tfs)


def _bm25_oracle() -> str:
    score, tf_total = _bm25_score_exprs()
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, {score} AS s
  FROM t
  WHERE {tf_total} > 0
), ranked AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, ROUND(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_K}
"""


register("text_bm25_topk", text_bm25_topk, _bm25_oracle)


RERANK_SHORTLIST = 50
RERANK_K = 10


def text_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 — two-stage retrieval: a cheap BM25 shortlist (top-50),
    then a second-stage re-rank over the shortlist only — the lexical
    twin of the IVF-PQ refine lesson (PLANS.md: a coarse stage's job
    is RECALL; precision comes from a bounded re-rank). Stage 2 keys
    on INTEGER evidence (distinct query terms matched, then total
    term frequency, then doc id), so the published columns are exact
    while the float BM25 score stays internal to stage 1 — whose
    shortlist boundary the oracle replays bit-exactly via the shared
    inlined-literal expression tree. Stage-2 cost is shortlist-sized:
    the candidate ids broadcast back for the feature fetch, the
    corpus is never re-scored."""
    from xero_api_etl_utilities_spark.operators.retrieval import (
        TOKEN_PATTERN,
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    short = bm25_topk(docs, BM25_TERMS, k=RERANK_SHORTLIST).select("doc_id")
    cand = docs.join(F.broadcast(short), "doc_id")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    base = cand.select("doc_id", toks.alias("_toks"))
    n_match = None
    tf_total = None
    for t in BM25_TERMS:
        present = F.array_contains("_toks", t).cast("long")
        tf = F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("long")
        n_match = present if n_match is None else n_match + present
        tf_total = tf if tf_total is None else tf_total + tf
    from pyspark.sql import Window as W

    reranked = base.select(
        "doc_id",
        n_match.alias("n_terms_matched"),
        tf_total.alias("tf_total"),
    )
    top = (
        reranked.orderBy(
            F.desc("n_terms_matched"), F.desc("tf_total"), F.asc("doc_id")
        )
        .limit(RERANK_K)
        .repartition(1)
    )
    w = W.orderBy(F.desc("n_terms_matched"), F.desc("tf_total"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "n_terms_matched",
        "tf_total",
        F.row_number().over(w).cast("int").alias("rerank"),
    )


def _rerank_oracle() -> str:
    score, tf_total = _bm25_score_exprs()
    n_match = " + ".join(
        f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END"
        for t in BM25_TERMS
    )
    tf_int = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))" for t in BM25_TERMS
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, toks, {score} AS s
  FROM t
  WHERE {tf_total} > 0
), shortlist AS (
  SELECT doc_id, toks,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r1
  FROM scored
), reranked AS (
  SELECT doc_id,
    CAST({n_match} AS BIGINT) AS n_terms_matched,
    CAST({tf_int} AS BIGINT) AS tf_total,
    row_number() OVER (ORDER BY ({n_match}) DESC, ({tf_int}) DESC, doc_id ASC)
      AS rerank
  FROM shortlist WHERE r1 <= {RERANK_SHORTLIST}
)
SELECT doc_id, n_terms_matched, tf_total, CAST(rerank AS INT) AS rerank
FROM reranked WHERE rerank <= {RERANK_K}
"""


register("text_retrieve_rerank", text_retrieve_rerank, _rerank_oracle)
