"""Round-9 wave tests: span-dedup emit reconciliation."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_span_dedup_emit_reconciles_with_coverage(spark, sf_dir):
    """X146 vs X110: the emit must account for every token
    (kept + removed == total per doc), never remove MORE than the
    coverage census measures (canonical occurrences survive, so
    per-source removed <= covered), and actually remove something on
    this corpus (the testdata contains cross-doc duplicated 6-grams).
    The kept text must also be a subsequence re-join: token count of
    the emitted string equals kept_tokens."""
    from xero_api_etl_utilities_spark.plans.text_ops import text_dup_span_coverage
    from xero_api_etl_utilities_spark.plans.text_ops import text_span_dedup_emit

    emit = text_span_dedup_emit(spark, sf_dir).collect()
    assert emit, "emit produced no rows"
    total_removed = 0
    for r in emit:
        assert r["kept_tokens"] + r["removed_tokens"] == r["n_tokens"], r[
            "doc_id"
        ]
        # the emitted string re-splits to exactly the kept tokens
        # (split(' ') of '' is [''] — size 1 — so guard the empty case)
        n_join = (
            len(r["kept_text"].split(" ")) if r["kept_text"] != "" else 0
        )
        assert n_join == r["kept_tokens"], r["doc_id"]
        total_removed += r["removed_tokens"]
    assert total_removed > 0

    cov = {
        r["source"]: r["covered_tokens"]
        for r in text_dup_span_coverage(spark, sf_dir).collect()
    }
    removed_by_src = {}
    for r in emit:
        removed_by_src[r["source"]] = (
            removed_by_src.get(r["source"], 0) + r["removed_tokens"]
        )
    for src, removed in removed_by_src.items():
        assert removed <= cov[src], (src, removed, cov[src])
    # strictly less overall: the canonical occurrences are covered by
    # X110 but kept by the emit
    assert sum(removed_by_src.values()) < sum(cov.values())


def test_span_dedup_emit_first_occurrence_wins(spark):
    """Hand-built corpus: an identical 6-token run in three docs —
    only the minimum (doc_id, pos) occurrence survives; a doc with no
    duplicated span is emitted verbatim."""
    from xero_api_etl_utilities_spark.plans.text_ops import text_span_dedup_emit
    import os
    import tempfile

    dup = "a b c d e f"
    rows = [
        (1, f"x1 {dup} y1", "en", "s", 0),
        (2, f"{dup} tail tokens here", "en", "s", 0),
        (3, f"lead {dup}", "en", "s", 0),
        (4, "no duplicated span in this document at all", "en", "s", 0),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: r for r in text_span_dedup_emit(spark, d).collect()
        }
    # doc 1 holds the canonical occurrence (min doc_id) — kept whole
    assert got[1]["kept_text"] == f"x1 {dup} y1"
    assert got[1]["removed_tokens"] == 0
    # docs 2 and 3 lose exactly the 6 duplicated tokens
    assert got[2]["kept_text"] == "tail tokens here"
    assert got[2]["removed_tokens"] == 6
    assert got[3]["kept_text"] == "lead"
    assert got[3]["removed_tokens"] == 6
    # untouched doc emitted verbatim
    assert got[4]["kept_text"] == rows[3][1]
    assert got[4]["removed_tokens"] == 0
