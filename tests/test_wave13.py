"""Semantics pins for the r13 wave: the learned quality scorer (X170)
and incremental near-dedup against the frozen corpus catalog (X171).

The oracle gate proves Spark == DuckDB on the generated tables; these
cases pin the components themselves: trainer determinism, the python
label twin vs the Spark rule pack, in-row scoring vs a naive python
re-score, and — the X171 contract — that the incremental band-join
plan reproduces exactly the full batch recompute's mixed slice.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import quality_model as qm
from xero_api_etl_utilities_spark.operators.textstats import quality_flags

SF = "/root/testdata/sf0.001"


def test_perceptron_deterministic_and_learned():
    w1 = qm.weights_from_parquet(SF)
    qm._WEIGHTS_CACHE.clear()
    w2 = qm.weights_from_parquet(SF)
    assert w1 == w2
    assert len(w1) == qm.DIM
    assert all(isinstance(x, int) for x in w1)
    # the trainer must have actually moved off the zero vector
    assert any(x != 0 for x in w1)


def test_rule_label_twin_matches_spark_rule_pack(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < qm.N_TRAIN
    )
    flags = quality_flags(F.col("text"))
    got = {
        r["doc_id"]: r["ok"]
        for r in docs.select(
            "doc_id",
            (flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"])
            .cast("int")
            .alias("ok"),
        ).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(rows) > 0
    for r in rows:
        assert qm.rule_label(r["text"] or "") == got[r["doc_id"]], r["doc_id"]


def test_inrow_scoring_matches_python_rescore(spark):
    """The Spark F.aggregate dot product must equal a naive python
    re-score with the same weights — pins the element_at indexing,
    sign convention, and empty-token init."""
    from xero_api_etl_utilities_spark.plans.text_ops import text_quality_classifier

    w = qm.weights_from_parquet(SF)
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    by_source: dict[str, list[int]] = {}
    for r in docs:
        feats = qm.hashed_features(r["text"] or "")
        score = sum(w[i] * v for i, v in feats.items())
        by_source.setdefault(r["source"], []).append(score)
    got = {
        r["source"]: r
        for r in text_quality_classifier(spark, SF).collect()
    }
    assert set(got) == set(by_source)
    for src, scores in by_source.items():
        assert got[src]["n_docs"] == len(scores)
        assert got[src]["n_positive"] == sum(1 for s in scores if s > 0)
        assert got[src]["sum_score"] == sum(scores)
        n, pos = len(scores), sum(1 for s in scores if s > 0)
        assert got[src]["share_bp"] == (20000 * pos + n) // (2 * n)


def test_incremental_equals_full_recompute_mixed_slice(spark):
    """The incremental-pairs contract at the ENGINE level (the oracle
    proves it cross-engine): incremental band-join pairs == the full batch
    candidates->verify chain restricted to (new x corpus) pairs."""
    from xero_api_etl_utilities_spark.operators import dedup as dd
    from xero_api_etl_utilities_spark.plans.dedup_ops import minhash_sigs
    from xero_api_etl_utilities_spark.plans.dedup_ops import (
        _INC_BANDS,
        _INC_ROWS,
        dedup_incremental_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumnRenamed(
        "doc_id", "doc_id"
    )
    full_cands = dd.minhash_lsh_candidates(
        minhash_sigs(spark, SF),
        bands=_INC_BANDS,
        rows_per_band=_INC_ROWS,
    )
    full = dd.jaccard_verify(full_cands, docs, "doc_id", "text")
    expected = {
        (
            r["doc_a"] if r["doc_a"] % 5 == 4 else r["doc_b"],
            r["doc_b"] if r["doc_a"] % 5 == 4 else r["doc_a"],
            r["inter_size"],
            r["union_size"],
        )
        for r in full.collect()
        if (r["doc_a"] % 5 == 4) != (r["doc_b"] % 5 == 4)
    }
    got = {
        (r["new_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in dedup_incremental_pairs(spark, SF).collect()
    }
    assert got == expected
    assert len(got) > 0  # the sf0.001 corpus does contain mixed near-dups
    # every emitted pair is oriented (new, corpus)
    for new_id, corpus_id, _, _ in got:
        assert new_id % 5 == 4 and corpus_id % 5 != 4
