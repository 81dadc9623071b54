"""Semantics pins for the r14 wave: the persisted dedup catalog
(X174), the classifier-lifecycle drift census (X175), catalog
absorb-vs-rebuild (X176), and catalog expiry-vs-rebuild (X177).

The oracle gate proves Spark == DuckDB on the generated tables; these
cases pin the artifact contracts themselves: the disk-backed catalog
path reproducing the in-memory incremental plan pair-for-pair, publish
idempotency + stale-run retention, absorb ≡ full rebuild on the
combined corpus, slice-trainer disjointness, and the drift census's
internal arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import quality_model as qm
from xero_api_etl_utilities_spark.plans import dedup_ops as wave14
from xero_api_etl_utilities_spark.plans.text_ops import text_quality_drift

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return sorted(
        (r["new_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in df.collect()
    )


def test_persisted_catalog_matches_in_memory_incremental(spark):
    """X174 from the parquet catalog must equal X171 from the memoized
    in-memory substrate, pair-for-pair — the disk roundtrip adds or
    loses nothing."""
    from xero_api_etl_utilities_spark.plans.dedup_ops import dedup_incremental_pairs

    disk = _pairs(wave14.dedup_catalog_persisted(spark, SF))
    mem = _pairs(dedup_incremental_pairs(spark, SF))
    assert len(disk) > 0
    assert disk == mem


def test_publish_writes_all_artifacts_and_is_memoized(spark):
    path = wave14.publish_band_catalog(spark, SF)
    for sub in ("corpus", "arrivals", "census"):
        assert os.path.isdir(os.path.join(path, sub)), sub
    # band-partitioned layout: directory-pruned reads per band
    assert any(
        d.startswith("band=") for d in os.listdir(os.path.join(path, "corpus"))
    )
    # memoized: second call returns the same path without rewriting
    mtime = os.path.getmtime(os.path.join(path, "census"))
    assert wave14.publish_band_catalog(spark, SF) == path
    assert os.path.getmtime(os.path.join(path, "census")) == mtime


def test_census_matches_catalog_counts(spark):
    """The persisted per-bucket census must equal a groupBy of the
    persisted catalog rows — the store's increment-on-ingest contract
    starts from a consistent snapshot."""
    path = wave14.publish_band_catalog(spark, SF)
    cat = spark.read.parquet(os.path.join(path, "corpus"))
    census = spark.read.parquet(os.path.join(path, "census"))
    recount = {
        (r["band"], r["bh"]): r["n"]
        for r in cat.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    stored = {(r["band"], r["bh"]): r["n_corpus"] for r in census.collect()}
    assert stored == recount


def test_absorb_equals_full_rebuild(spark):
    """X176's combined read-back census must equal the same census
    computed on a from-scratch full-corpus band_rows build."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows
    from xero_api_etl_utilities_spark.plans.dedup_ops import minhash_sigs

    got = {
        r["band"]: (r["n_rows"], r["n_docs"], r["n_buckets"], r["bucket_hash_sum"])
        for r in wave14.dedup_catalog_absorb(spark, SF).collect()
    }
    rebuilt = band_rows(minhash_sigs(spark, SF), bands=16, rows_per_band=4)
    want = {
        r["band"]: (r["n_rows"], r["n_docs"], r["n_buckets"], r["bucket_hash_sum"])
        for r in rebuilt.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.countDistinct("bh").cast("bigint").alias("n_buckets"),
            F.sum(F.col("bh") % 1_000_000_007)
            .cast("bigint")
            .alias("bucket_hash_sum"),
        )
        .collect()
    }
    assert set(got) == set(range(16))
    assert got == want


def test_candidate_subtree_reads_only_artifact_and_sketch(spark):
    """The disk-backed candidate generation must touch ONLY the
    persisted parquet artifact (catalog + census) plus the memoized
    new-side sketch — never the document text.  Asserted on the
    pre-verify subtree because the verify stage's localCheckpoint
    hides its upstream behind a Scan ExistingRDD in the final plan."""
    import contextlib
    import io

    cands = wave14.incremental_cands_from_disk(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cands.explain("formatted")
    p = buf.getvalue()
    assert "dedup_catalog" in p  # the persisted artifact is scanned
    assert "documents.parquet" not in p  # text never enters
    assert "Scan ExistingRDD" in p  # new side rides the memoized sigs
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_expire_equals_rebuild_on_shrunk_corpus(spark):
    """X177's anti-joined survivor census must equal the same census
    computed on a from-scratch banding of the shrunk corpus — and the
    tombstoned docs must actually be gone."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows
    from xero_api_etl_utilities_spark.plans.dedup_ops import minhash_sigs

    got = {
        r["band"]: (r["n_rows"], r["n_docs"], r["n_buckets"], r["bucket_hash_sum"])
        for r in wave14.dedup_catalog_expire(spark, SF).collect()
    }
    rebuilt = band_rows(
        minhash_sigs(spark, SF).filter(F.col("doc") % 7 != 3),
        bands=16,
        rows_per_band=4,
    )
    want = {
        r["band"]: (r["n_rows"], r["n_docs"], r["n_buckets"], r["bucket_hash_sum"])
        for r in rebuilt.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.countDistinct("bh").cast("bigint").alias("n_buckets"),
            F.sum(F.col("bh") % 1_000_000_007)
            .cast("bigint")
            .alias("bucket_hash_sum"),
        )
        .collect()
    }
    assert got == want
    # the delete bit: expiry really removed the tombstoned documents
    absorb = {r["band"]: r["n_docs"] for r in wave14.dedup_catalog_absorb(spark, SF).collect()}
    assert all(got[b][1] < absorb[b] for b in got)


def test_absorb_then_expire_is_identity(spark):
    """CRUD identity on the persisted store: absorbing the arrivals
    and then expiring exactly the absorbed ids must return the corpus
    partition row-for-row — deletes are the exact inverse of inserts
    in the sidecar, which is why neither ever needs a rebuild."""
    path = wave14.publish_band_catalog(spark, SF)
    corpus = spark.read.parquet(os.path.join(path, "corpus")).select(
        "doc", F.col("band").cast("int").alias("band"), "bh"
    )
    arrivals = spark.read.parquet(os.path.join(path, "arrivals")).select(
        "doc", F.col("band").cast("int").alias("band"), "bh"
    )
    absorbed = corpus.unionByName(arrivals)
    tombstones = arrivals.select("doc").distinct()
    surviving = absorbed.join(tombstones, "doc", "left_anti")
    got = {(r["doc"], r["band"], r["bh"]) for r in surviving.collect()}
    want = {(r["doc"], r["band"], r["bh"]) for r in corpus.collect()}
    assert got == want and len(want) > 0


def test_slice_trainer_disjoint_and_backward_compatible():
    wa = qm.weights_from_parquet_slice(SF, 0, 400)
    wb = qm.weights_from_parquet_slice(SF, 400, 800)
    assert wa == qm.weights_from_parquet(SF)  # lo=0 delegation
    assert len(wb) == qm.DIM
    # both slices exist on this corpus and train different models
    assert any(x != 0 for x in wb)
    assert wa != wb


def test_drift_census_arithmetic(spark):
    """Per source: flips decompose against the positive counts, the
    agreement ratio uses the exact-rounding convention, and the drift
    sum equals a python re-score with both weight vectors."""
    wa = qm.weights_from_parquet_slice(SF, 0, 400)
    wb = qm.weights_from_parquet_slice(SF, 400, 800)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    by_source: dict[str, list[tuple[int, int]]] = {}
    for r in docs:
        feats = qm.hashed_features(r["text"] or "")
        sa = sum(wa[i] * v for i, v in feats.items())
        sb = sum(wb[i] * v for i, v in feats.items())
        by_source.setdefault(r["source"], []).append((sa, sb))
    got = {r["source"]: r for r in text_quality_drift(spark, SF).collect()}
    assert set(got) == set(by_source)
    for src, scores in by_source.items():
        row = got[src]
        n = len(scores)
        pos_a = sum(1 for a, _ in scores if a > 0)
        pos_b = sum(1 for _, b in scores if b > 0)
        gained = sum(1 for a, b in scores if a <= 0 and b > 0)
        lost = sum(1 for a, b in scores if a > 0 and b <= 0)
        agree = sum(1 for a, b in scores if (a > 0) == (b > 0))
        assert row["n_docs"] == n
        assert (row["n_pos_a"], row["n_pos_b"]) == (pos_a, pos_b)
        assert (row["n_gained"], row["n_lost"]) == (gained, lost)
        # flips reconcile with the positive-count delta
        assert row["n_pos_b"] - row["n_pos_a"] == row["n_gained"] - row["n_lost"]
        assert row["agree_bp"] == (20000 * agree + n) // (2 * n)
        assert row["score_drift"] == sum(b - a for a, b in scores)
