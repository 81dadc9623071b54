"""Catalog wave X170–X171: two curation-stage operators the corpus
catalog lacked.

- X170 ``text_quality_classifier`` — model-based quality scoring (the
  DCLM/fastText stage): a tiny integer perceptron trained driver-side
  on X60's signed hashed features with the rule-pack gate as weak
  labels, then scored corpus-wide as a zero-shuffle in-row dot
  product against the broadcast weight literal, censused per source.
  The curation surface already had rule packs (X37), perplexity
  proxies (X45/X120/X143) and deciles (X109); this is the learned
  stage modern pipelines actually rank by.
- X171 ``dedup_incremental_pairs`` — incremental near-dedup of a NEW
  crawl against the EXISTING curated corpus without recomputing the
  corpus side: the corpus band-bucket table (the persisted dedup
  CATALOG, here the memoized signature substrate projected through
  ``band_rows``) is consumed scan-only; only the new batch's bands
  join against it, and exact-Jaccard verification touches corpus text
  only through the candidate semi-join.  The oracle is the FULL
  recompute restricted to (new × corpus) pairs — equality proves the
  incremental plan computes exactly the full answer's new slice.

Reference provenance: the reference ETL (src/queries.ts) has neither
tier; these extend the training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators.litfold import lit_longs
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
)
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# X170: learned quality classifier (the DCLM / fastText stage)
# ---------------------------------------------------------------------------


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170: per-source census of the LEARNED quality scorer — the
    integer perceptron from operators/quality_model.py trained
    driver-side on the bounded doc_id<400 slice (pyarrow scan, the PQ
    codebook precedent), scored corpus-wide without a single shuffle
    before the dimension-sized groupBy: the 256 integer weights are a
    broadcast array literal and each document's score is ONE in-row
    ``F.aggregate`` over its token array (index = H32('f:'||t) mod
    256, sign = parity of H32('s:'||t) — X60's exact feature space,
    so a production pipeline shares the materialized hashed-feature
    column between trainer and scorer).

    Output per source: document count, positive-score count, rounded
    share in bp ((20000a+n) div 2n — the repo's exact-ratio
    convention), and the exact integer score sum.

    100 TB shape: training cost is FIXED (400 docs on the driver, the
    ivf.train_centroids sample=1000 class); scoring is map-only
    whole-stage codegen — no vocabulary broadcast, no join, no UDF;
    the census shuffles one ~4-row partial aggregate per task."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    weights = qm.weights_from_parquet(sf_dir)
    w_arr = lit_longs([int(w) for w in weights])
    toks = tokens(F.col("text"))
    # coalesce: NULL text -> NULL fold, but the DuckDB oracle COALESCEs
    # its list_sum to 0 — a NULL-text document scores 0
    score = F.coalesce(
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                w_arr, (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1).cast("int")
            )
            * F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .withColumn(
            "share_bp",
            F.expr(
                "CAST((20000 * n_positive + n_docs) div (2 * n_docs)"
                " AS BIGINT)"
            ),
        )
        .select("source", "n_docs", "n_positive", "share_bp", "sum_score")
        .orderBy("source")
    )


def _quality_classifier_oracle() -> str:
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    weights = qm.weights_from_parquet(oracle_sf_dir())
    wlist = "[" + ", ".join(str(int(w)) for w in weights) + "]"
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")
    contrib = (
        f"wv.w[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
        f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
    )
    return f"""
WITH wv AS (SELECT {wlist} AS w),
scored AS (
  SELECT source,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(lower(text), '[a-z0-9]+'),
      t -> {contrib})), 0) AS BIGINT) AS score
  FROM documents, wv
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
  CAST((20000 * SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) AS share_bp,
  CAST(SUM(score) AS BIGINT) AS sum_score
FROM scored GROUP BY source ORDER BY source
"""


register(
    "text_quality_classifier",
    text_quality_classifier,
    _quality_classifier_oracle,
)


# ---------------------------------------------------------------------------
# X171: incremental near-dedup against the frozen corpus catalog
# ---------------------------------------------------------------------------

_INC_BANDS = 16
_INC_ROWS = 4
_INC_MAX_BUCKET = 500


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs of the NEW batch (doc_id %% 5 == 4,
    the repo's arrivals convention) against the EXISTING corpus — the
    100 TB dedup operation that must NOT recompute the corpus side.

    Lowering: the memoized full-corpus signature substrate
    (corpus_ops.minhash_sigs — at 100 TB, the materialized sketch
    column the corpus store already keeps) is projected through
    ``band_rows`` into the band-bucket CATALOG; bucket sizes come from
    a groupBy of that catalog (at scale: the stored per-bucket census
    incremented by the new batch's counts — never the documents);
    candidates are the equi-join of the NEW side's bands against the
    corpus side's bands within kept buckets (2 ≤ size ≤ 500, the same
    stop-bucket guard as the batch path); exact-Jaccard verification
    then touches corpus TEXT only through the candidate semi-join
    (operators/dedup.jaccard_verify).  Per-batch cost is O(new bands
    + matching buckets + candidate verifies) — the corpus contributes
    a scan of its catalog, no re-shingle, no all-pairs.

    The oracle is the FULL-RECOMPUTE verified-pairs chain restricted
    to mixed (new × corpus) pairs: hash-equality proves the
    incremental plan reproduces exactly the full answer's new slice —
    same banding, same stop-bucket semantics (bucket size counted over
    corpus + new together, as the combined catalog would), same 0.7
    Jaccard verify rule."""
    from xero_api_etl_utilities_spark.operators import dedup as dd
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs

    docs = load_table(spark, sf_dir, "documents")
    banded = dd.band_rows(
        minhash_sigs(spark, sf_dir), bands=_INC_BANDS, rows_per_band=_INC_ROWS
    )
    # Within-bucket explosion, the minhash_lsh_candidates shape —
    # the previous census + (kept ⋈ kept) self-join form instantiated
    # the banding projection (16 md5s/doc over the whole corpus) on
    # FOUR plan branches and the bucket census on two (Spark has no
    # cross-branch CSE; exchange reuse recovered only part of it).
    # One groupBy on (band, bh) computes the banding once, splits each
    # bucket's members by arrival class in-row (collect_list skips the
    # NULLs the CASE leaves), applies the combined stop-bucket rule to
    # exactly the same n_all = |new| + |corpus| the census computed,
    # and emits the new × corpus pairs from the two in-row arrays —
    # bounded by the same max_bucket cap.  Pair set is identical
    # (oracle unchanged; proven hash-equal at sf0.01 and sf0.1).
    buckets = (
        banded.groupBy("band", "bh")
        .agg(
            F.collect_list(
                F.when(F.col("doc") % 5 == 4, F.col("doc"))
            ).alias("dn"),
            F.collect_list(
                F.when(F.col("doc") % 5 != 4, F.col("doc"))
            ).alias("dc"),
        )
        .filter(
            (F.size("dn") + F.size("dc") <= _INC_MAX_BUCKET)
            & (F.size("dn") > 0)
            & (F.size("dc") > 0)
        )
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("dn"),
            lambda dn: F.transform(
                F.col("dc"),
                lambda dc: F.struct(
                    F.least(dn, dc).alias("doc_a"),
                    F.greatest(dn, dc).alias("doc_b"),
                ),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # the distinct's exchange is AQE-coalesced: widen before the
    # CPU-bound verify
    verified = dd.jaccard_verify(
        materialize(compute_width(cands)), docs, "doc_id", "text"
    )
    is_a_new = F.col("doc_a") % 5 == 4
    return verified.select(
        F.when(is_a_new, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("new_id"),
        F.when(is_a_new, F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("corpus_id"),
        "inter_size",
        "union_size",
    )
    # no publish-path orderBy: the driver hash is order-insensitive
    # and the pair output is fact-sized — the same range-shuffle
    # removal as X174


def _incremental_pairs_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return (
        "WITH "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + """
SELECT CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS new_id,
       CASE WHEN doc_a % 5 = 4 THEN doc_b ELSE doc_a END AS corpus_id,
       inter_size, union_size
FROM verified
WHERE (doc_a % 5 = 4) <> (doc_b % 5 = 4)
ORDER BY new_id, corpus_id
"""
    )


register(
    "dedup_incremental_pairs",
    dedup_incremental_pairs,
    _incremental_pairs_oracle,
)


# ---------------------------------------------------------------------------
# X172: classifier calibration vs the rule pack it distilled
# ---------------------------------------------------------------------------


def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X172: the confusion census a curation team reads before trusting
    the learned scorer — per source, the X170 perceptron's decision
    (score > 0) against the rule-pack gate it was distilled from:
    tp/fp/fn/tn counts plus exact-integer precision and recall in bp
    (the (20000a+n) div 2n rounding convention; 0 when the denominator
    is empty).  Training saw only doc_id < 400, so every other row is
    held-out generalization — the number that says whether the model
    stage can replace the rule scan.

    Lowering: ONE corpus pass — the same zero-shuffle in-row score
    fold as X170 plus the rule-pack column predicates, then a
    source-grain aggregate.  No join, no second scan: both classifier
    and rules are per-row expressions of the same document."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens
    from xero_api_etl_utilities_spark.operators.textstats import quality_flags

    weights = qm.weights_from_parquet(sf_dir)
    w_arr = lit_longs([int(w) for w in weights])
    toks = tokens(F.col("text"))
    # coalesce: NULL text -> NULL fold, but the DuckDB oracle COALESCEs
    # its list_sum to 0 — a NULL-text document scores 0
    score = F.coalesce(
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                w_arr, (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1).cast("int")
            )
            * F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    flags = quality_flags(F.col("text"))
    rule = flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"]
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        (score > 0).alias("pred"),
        rule.alias("truth"),
    )
    counted = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("pred") & F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("tp"),
        F.sum((F.col("pred") & ~F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("fp"),
        F.sum((~F.col("pred") & F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("fn"),
        F.sum((~F.col("pred") & ~F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("tn"),
    )
    return (
        counted.withColumn(
            "precision_bp",
            F.expr(
                "CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE"
                " (20000 * tp + (tp + fp)) div (2 * (tp + fp)) END"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "recall_bp",
            F.expr(
                "CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE"
                " (20000 * tp + (tp + fn)) div (2 * (tp + fn)) END"
                " AS BIGINT)"
            ),
        )
        .select(
            "source", "n_docs", "tp", "fp", "fn", "tn",
            "precision_bp", "recall_bp",
        )
        .orderBy("source")
    )


def _quality_calibration_oracle() -> str:
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    weights = qm.weights_from_parquet(oracle_sf_dir())
    wlist = "[" + ", ".join(str(int(w)) for w in weights) + "]"
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")
    contrib = (
        f"wv.w[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
        f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
    )
    return f"""
WITH wv AS (SELECT {wlist} AS w),
tagged AS (
  SELECT source,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(lower(text), '[a-z0-9]+'),
      t -> {contrib})), 0) AS BIGINT) > 0 AS pred,
    (length(text) >= 50
     AND 100 * (length(text)
                - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
         <= 20 * length(text)
     AND 100 * len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           t -> list_contains(['the','a','and','of','to','in','is','it','for','on'], t)))
         >= 1 * greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
    ) AS truth
  FROM documents, wv
), counted AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM tagged GROUP BY source
)
SELECT source, n_docs, tp, fp, fn, tn,
  CAST(CASE WHEN tp + fp = 0 THEN 0
       ELSE (20000 * tp + (tp + fp)) // (2 * (tp + fp)) END AS BIGINT)
    AS precision_bp,
  CAST(CASE WHEN tp + fn = 0 THEN 0
       ELSE (20000 * tp + (tp + fn)) // (2 * (tp + fn)) END AS BIGINT)
    AS recall_bp
FROM counted ORDER BY source
"""


register(
    "text_quality_calibration",
    text_quality_calibration,
    _quality_calibration_oracle,
)
