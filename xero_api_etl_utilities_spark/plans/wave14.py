"""Catalog wave X174–X177: make the dedup CATALOG a real on-disk
artifact and close the classifier lifecycle.

- X174 ``dedup_catalog_persisted`` — X171's incremental near-dedup
  with the corpus side read from a PERSISTED parquet band catalog
  (written once through sources/writer.py, alongside its per-bucket
  census), not the in-memory memoized substrate.  Hash-equality
  against the full-recompute oracle proves the disk-backed catalog is
  byte-equivalent to the in-memory one — the ``pipeline_corpus_publish``
  precedent: gate the artifact, not the plan.
- X175 ``text_quality_drift`` — the classifier-lifecycle census: the
  X170 perceptron re-trained on the NEXT curation-epoch id slice, and
  the per-source flip census (verdict gains/losses, agreement, score
  drift) a production curation run reads before swapping models
  (the X167/X169 retrain-delta pattern applied to the model stage).
- X176 ``dedup_catalog_absorb`` — catalog MAINTENANCE: after the
  incremental batch is admitted, its band rows are absorbed into the
  persisted store as an append-shaped write, and the combined
  read-back is censused per band against a from-scratch full-corpus
  rebuild oracle.  Equality proves the catalog never needs rebuilding:
  absorb(new) ≡ rebuild(corpus ∪ new), because band rows are pure
  per-document functions.
- X177 ``dedup_catalog_expire`` — the DELETE half of catalog
  maintenance (X176 is the insert half): a takedown/right-to-be-
  forgotten list drops documents from the store by broadcast
  anti-join against the persisted band rows — never a re-shingle —
  and the surviving catalog is censused against a from-scratch
  rebuild on the shrunk corpus.  Equality proves
  expire(tombstones) ≡ rebuild(corpus ∖ tombstones).

Reference provenance: the reference ETL (src/queries.ts) has no dedup
or model tier; these extend the training-data-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators.litfold import lit_longs
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
    session_memo,
)
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table

_BANDS = 16
_ROWS = 4
_MAX_BUCKET = 500
_HASH_P = 1_000_000_007


# ---------------------------------------------------------------------------
# X174: the persisted band catalog (write once, dedup against the disk)
# ---------------------------------------------------------------------------


def _catalog_dir(sf_dir: str, run_suffix: str) -> str:
    import xero_api_etl_utilities_spark as _pkg

    pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
    repo_root = os.path.dirname(pkg_dir)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(
        repo_root, "spark-warehouse", "dedup_catalog", f"{sf_name}-{run_suffix}"
    )


@session_memo("band_catalog")
def publish_band_catalog(spark: SparkSession, sf_dir: str) -> str:
    """Write the corpus dedup CATALOG to disk, once per session: the
    (doc, band, bh) band rows of the EXISTING corpus (doc_id % 5 != 4,
    the repo's arrivals convention) band-partitioned under
    ``<run>/corpus``, the per-bucket census (band, bh, n_corpus) under
    ``<run>/census``, and the NEW batch's band rows under
    ``<run>/arrivals`` (X176's absorb payload).  Stale prior-session
    runs for the same sf are pruned (the X155 retention rule).

    100 TB shape: this IS the corpus store's dedup sidecar — ~16 rows
    × ~20 B per document, written by the same pass that materializes
    the MinHash signature column; every later crawl scans it instead
    of re-shingling the corpus.  Band-partitioning keeps each band's
    bucket join a directory-pruned read; a production store would
    additionally bucket each partition by ``bh`` so the probe join
    arrives pre-shuffled (sources/writer.write_bucketed_table)."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs
    from xero_api_etl_utilities_spark.plans.wave10 import _prune_stale_runs
    from xero_api_etl_utilities_spark.sources.writer import write_partitioned

    path = _catalog_dir(sf_dir, spark.sparkContext.applicationId)
    _prune_stale_runs(path, sf_dir)
    sigs = minhash_sigs(spark, sf_dir)
    corpus_bands = band_rows(
        sigs.filter(F.col("doc") % 5 != 4), bands=_BANDS, rows_per_band=_ROWS
    )
    new_bands = band_rows(
        sigs.filter(F.col("doc") % 5 == 4), bands=_BANDS, rows_per_band=_ROWS
    )
    write_partitioned(corpus_bands, os.path.join(path, "corpus"), ["band"])
    write_partitioned(new_bands, os.path.join(path, "arrivals"), ["band"])
    (
        corpus_bands.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
        .write.mode("overwrite")
        .parquet(os.path.join(path, "census"))
    )
    return path


def incremental_cands_from_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-generation subtree of X174, exposed so the plan
    pin in tests/test_wave14.py can assert — BEFORE the verify stage's
    localCheckpoint hides it behind a Scan ExistingRDD — that it reads
    ONLY the persisted parquet artifact (catalog + census) plus the
    memoized new-side sketch, and never the document text."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs

    path = publish_band_catalog(spark, sf_dir)
    cat = spark.read.parquet(os.path.join(path, "corpus")).select(
        "doc", F.col("band").cast("int").alias("band"), "bh"
    )
    census = spark.read.parquet(os.path.join(path, "census")).select(
        F.col("band").cast("int").alias("band"), "bh", "n_corpus"
    )
    new_bands = band_rows(
        minhash_sigs(spark, sf_dir).filter(F.col("doc") % 5 == 4),
        bands=_BANDS,
        rows_per_band=_ROWS,
    )
    n_new = new_bands.groupBy("band", "bh").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    kept = (
        census.join(n_new, ["band", "bh"], "full")
        .withColumn(
            "n_all",
            F.coalesce(F.col("n_corpus"), F.lit(0))
            + F.coalesce(F.col("n_new"), F.lit(0)),
        )
        .filter((F.col("n_all") >= 2) & (F.col("n_all") <= _MAX_BUCKET))
        .select("band", "bh")
    )
    new_kept = new_bands.join(kept, ["band", "bh"]).select(
        "band", "bh", F.col("doc").alias("dn")
    )
    corpus_kept = cat.join(kept, ["band", "bh"]).select(
        "band", "bh", F.col("doc").alias("dc")
    )
    return (
        new_kept.join(corpus_kept, ["band", "bh"])
        .select(
            F.least("dn", "dc").alias("doc_a"),
            F.greatest("dn", "dc").alias("doc_b"),
        )
        .distinct()
    )


def dedup_catalog_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_pairs``' near-dedup with the corpus side read
    from the PERSISTED catalog — every corpus-derived input (band rows
    AND bucket census) comes off parquet; the corpus documents are
    touched only by the candidate-restricted verify, exactly as a
    100 TB store would run it.  Bucket sizes are the STORED census
    incremented by the new batch's counts (full-outer join, coalesced
    sums) — the combined-count semantics the in-memory form pinned, computed the
    way a production catalog actually computes them.

    The oracle is the in-memory form's: the full-recompute verified-pairs chain
    restricted to mixed (new × corpus) pairs.  Hash-equality therefore
    proves disk-backed ≡ in-memory ≡ full recompute."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    cands = incremental_cands_from_disk(spark, sf_dir)
    # the distinct's exchange is AQE-coalesced: widen before the
    # CPU-bound verify
    cands = materialize(compute_width(cands))
    verified = dd.jaccard_verify(cands, docs, "doc_id", "text")
    is_a_new = F.col("doc_a") % 5 == 4
    return (
        verified.select(
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
        # and this is the one fact-sized catalog output — a global sort
        # here would plan a full range shuffle at 100 TB pair volume
        # for nothing
    )


def _catalog_persisted_oracle() -> str:
    # X171's oracle verbatim: the disk-backed plan claims to compute
    # exactly the full answer's new slice, so it is held to exactly
    # the same full-recompute standard.
    from xero_api_etl_utilities_spark.plans.wave13 import _incremental_pairs_oracle

    return _incremental_pairs_oracle()


register(
    "dedup_catalog_persisted",
    dedup_catalog_persisted,
    _catalog_persisted_oracle,
)


# ---------------------------------------------------------------------------
# X175: classifier lifecycle — retrain on the next epoch slice, census flips
# ---------------------------------------------------------------------------

_EPOCH_A = (0, 400)  # X170's seed slice
_EPOCH_B = (400, 800)  # the next curation epoch's slice


def drift_counted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-source two-model census frame under X175 (the
    drift table) and X180 (the gated swap verdict): raw integer counts
    per source, INCLUDING the un-rounded agreement count ``_agree`` so
    downstream aggregates (the swap gate's global agreement) stay
    exact instead of re-deriving from rounded bp."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    w_a = qm.weights_from_parquet_slice(sf_dir, *_EPOCH_A)
    w_b = qm.weights_from_parquet_slice(sf_dir, *_EPOCH_B)
    docs = load_table(spark, sf_dir, "documents")
    # The two models share the hashing-trick feature map — only the
    # weight vectors differ — so a fold per model would re-derive BOTH
    # md5 hashes per token per model (4 md5/token).  One fold with a
    # two-field struct accumulator over a per-token (index, sign)
    # feature array hashes each token once (2 md5/token) and
    # accumulates both scores in the same element order, so each sum
    # is bit-identical to a single-model fold.
    wa_arr = lit_longs([int(w) for w in w_a])
    wb_arr = lit_longs([int(w) for w in w_b])
    feats = F.transform(
        tokens(F.col("text")),
        lambda t: F.struct(
            (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1)
            .cast("int")
            .alias("i"),
            F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("s"),
        ),
    )
    pair = F.aggregate(
        feats,
        F.struct(
            F.lit(0).cast("bigint").alias("a"), F.lit(0).cast("bigint").alias("b")
        ),
        lambda acc, f: F.struct(
            (acc["a"] + F.element_at(wa_arr, f["i"]) * f["s"]).alias("a"),
            (acc["b"] + F.element_at(wb_arr, f["i"]) * f["s"]).alias("b"),
        ),
    )
    scored = docs.select("source", pair.alias("_p")).select(
        "source",
        F.coalesce(F.col("_p.a"), F.lit(0).cast("bigint")).alias("score_a"),
        F.coalesce(F.col("_p.b"), F.lit(0).cast("bigint")).alias("score_b"),
    )
    pos_a = F.col("score_a") > 0
    pos_b = F.col("score_b") > 0
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(pos_a.cast("int")).cast("bigint").alias("n_pos_a"),
        F.sum(pos_b.cast("int")).cast("bigint").alias("n_pos_b"),
        F.sum((~pos_a & pos_b).cast("int")).cast("bigint").alias("n_gained"),
        F.sum((pos_a & ~pos_b).cast("int")).cast("bigint").alias("n_lost"),
        F.sum((pos_a == pos_b).cast("int")).cast("bigint").alias("_agree"),
        F.sum(F.col("score_b") - F.col("score_a"))
        .cast("bigint")
        .alias("score_drift"),
    )


def text_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X175: the model-swap drift census — X170's perceptron (epoch A,
    doc_id in [0,400)) against the SAME architecture re-trained on the
    next curation epoch's slice (doc_id in [400,800)), scored over the
    whole corpus in ONE pass: per source, both positive counts, the
    verdict flips each way (the documents a swap would newly admit /
    newly reject), exact-integer agreement in bp ((20000a+n) div 2n),
    and the exact score drift sum.  This is the table a curation team
    reads before replacing the quality model.

    Lowering: both weight vectors are broadcast integer literals; each
    document's two scores are two in-row F.aggregate folds over the
    SAME projected token array (one tokenize, no join, no UDF, no
    shuffle before the dimension-grain groupBy) — X170's zero-shuffle
    shape, doubled.  Training cost stays FIXED at 100 TB: two bounded
    driver-side slices, never a corpus pass."""
    counted = drift_counted(spark, sf_dir)
    return (
        counted.withColumn(
            "agree_bp",
            F.expr("CAST((20000 * _agree + n_docs) div (2 * n_docs) AS BIGINT)"),
        )
        .select(
            "source", "n_docs", "n_pos_a", "n_pos_b",
            "n_gained", "n_lost", "agree_bp", "score_drift",
        )
        .orderBy("source")
    )


def drift_counted_ctes() -> str:
    """The DuckDB twin of :func:`drift_counted` — a WITH-prefix ending
    in ``counted(source, n_docs, n_pos_a, n_pos_b, n_gained, n_lost,
    agree, score_drift)``, shared by the X175 drift oracle and the
    X180 swap-gate oracle."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    w_a = qm.weights_from_parquet_slice(oracle_sf_dir(), *_EPOCH_A)
    w_b = qm.weights_from_parquet_slice(oracle_sf_dir(), *_EPOCH_B)
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")

    def score(name: str) -> str:
        return (
            "CAST(COALESCE(list_sum(list_transform("
            "regexp_extract_all(lower(text), '[a-z0-9]+'),"
            f" t -> wv.{name}[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
            f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0"
            " THEN 1 ELSE -1 END))), 0) AS BIGINT)"
        )

    wa = "[" + ", ".join(str(int(w)) for w in w_a) + "]"
    wb = "[" + ", ".join(str(int(w)) for w in w_b) + "]"
    return f"""wv AS (SELECT {wa} AS a, {wb} AS b),
scored AS (
  SELECT source, {score("a")} AS score_a, {score("b")} AS score_b
  FROM documents, wv
), counted AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN score_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_a,
    CAST(SUM(CASE WHEN score_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_b,
    CAST(SUM(CASE WHEN score_a <= 0 AND score_b > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_gained,
    CAST(SUM(CASE WHEN score_a > 0 AND score_b <= 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_lost,
    CAST(SUM(CASE WHEN (score_a > 0) = (score_b > 0) THEN 1 ELSE 0 END)
         AS BIGINT) AS agree,
    CAST(SUM(score_b - score_a) AS BIGINT) AS score_drift
  FROM scored GROUP BY source
)"""


def _quality_drift_oracle() -> str:
    return (
        "WITH "
        + drift_counted_ctes()
        + """
SELECT source, n_docs, n_pos_a, n_pos_b, n_gained, n_lost,
  CAST((20000 * agree + n_docs) // (2 * n_docs) AS BIGINT) AS agree_bp,
  score_drift
FROM counted ORDER BY source
"""
    )


register("text_quality_drift", text_quality_drift, _quality_drift_oracle)


# ---------------------------------------------------------------------------
# X176: catalog maintenance — absorb the admitted batch, prove ≡ rebuild
# ---------------------------------------------------------------------------


def dedup_catalog_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176: absorb the admitted batch into the persisted catalog and
    prove the store never needs a rebuild: the combined read-back
    (corpus partitions ∪ the batch's appended partitions, both straight
    off parquet) is censused per band — row count, distinct documents,
    distinct buckets, and a bucket-hash checksum — against an oracle
    that REBUILDS the full-corpus band catalog from the raw text.
    Equality holds because band rows are pure per-document functions:
    absorb(new) ≡ rebuild(corpus ∪ new), which is exactly why a 100 TB
    catalog is maintained by appending each crawl's band rows (one
    map-only pass over the batch) instead of re-shingling petabytes.

    Lowering: two parquet scans united, one band-grain aggregate (16
    groups); the checksum is Σ bh mod p per band so the hash certifies
    bucket CONTENTS, not just counts."""
    path = publish_band_catalog(spark, sf_dir)
    combined = (
        spark.read.parquet(os.path.join(path, "corpus"))
        .select("doc", F.col("band").cast("int").alias("band"), "bh")
        .unionByName(
            spark.read.parquet(os.path.join(path, "arrivals")).select(
                "doc", F.col("band").cast("int").alias("band"), "bh"
            )
        )
    )
    return (
        combined.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.countDistinct("bh").cast("bigint").alias("n_buckets"),
            F.sum(F.col("bh") % _HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_absorb_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return (
        "WITH "
        + sk.band_catalog_ctes()
        + f"""
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT bh) AS BIGINT) AS n_buckets,
  CAST(SUM(bh % {_HASH_P}) AS BIGINT) AS bucket_hash_sum
FROM banded GROUP BY band ORDER BY band
"""
    )


register("dedup_catalog_absorb", dedup_catalog_absorb, _catalog_absorb_oracle)


# ---------------------------------------------------------------------------
# X177: catalog expiry — tombstone deletes, prove ≡ rebuild on the remainder
# ---------------------------------------------------------------------------

_TOMBSTONE_MOD = 7  # doc_id % 7 == 3 plays the takedown list


def dedup_catalog_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177: expire a takedown list from the persisted catalog — the
    GDPR / right-to-be-forgotten operation a training-data store must
    support without re-shingling anything.  The tombstone set
    (doc_id % 7 == 3 plays the legal-hold list) broadcast-anti-joins
    the full persisted store (corpus ∪ arrivals partitions, both off
    parquet); the survivors are censused per band — row count,
    distinct documents, distinct buckets, bucket-hash checksum —
    against an oracle that REBUILDS the banding from the raw text of
    the shrunk corpus.  Equality proves
    expire(tombstones) ≡ rebuild(corpus ∖ tombstones): deletes are
    id-local in the sidecar, exactly like absorbs (X176) are
    batch-local, so the store never rebuilds.

    Lowering: the delete list is dimension-sized at any corpus scale
    (it is a legal request list, not a crawl), so it broadcasts; the
    catalog never shuffles — two parquet scans, one broadcast
    anti-join, one 16-group aggregate."""
    path = publish_band_catalog(spark, sf_dir)
    store = (
        spark.read.parquet(os.path.join(path, "corpus"))
        .select("doc", F.col("band").cast("int").alias("band"), "bh")
        .unionByName(
            spark.read.parquet(os.path.join(path, "arrivals")).select(
                "doc", F.col("band").cast("int").alias("band"), "bh"
            )
        )
    )
    tombstones = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _TOMBSTONE_MOD == 3)
        .select(F.col("doc_id").alias("doc"))
    )
    surviving = store.join(F.broadcast(tombstones), "doc", "left_anti")
    return (
        surviving.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.countDistinct("bh").cast("bigint").alias("n_buckets"),
            F.sum(F.col("bh") % _HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_expire_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return (
        "WITH survivors AS MATERIALIZED (\n"
        f"  SELECT * FROM documents WHERE doc_id % {_TOMBSTONE_MOD} <> 3\n"
        "), "
        + sk.band_catalog_ctes("survivors")
        + f"""
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT bh) AS BIGINT) AS n_buckets,
  CAST(SUM(bh % {_HASH_P}) AS BIGINT) AS bucket_hash_sum
FROM banded GROUP BY band ORDER BY band
"""
    )


register("dedup_catalog_expire", dedup_catalog_expire, _catalog_expire_oracle)
