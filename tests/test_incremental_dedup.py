"""Small-file compaction of the incremental dedup store
(sources/writer.compact_store, run by ``dedup_catalog_compact``):
a store of per-batch ``part=`` partitions under ``catalog`` and
``docs`` must read back bit-identically after compaction, in fewer
files, with every prior partition kept as a replay-guard marker, and
an interrupted swap must repair itself on the next run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.dedup import (
    band_rows,
    minhash_signatures,
)
from xero_api_etl_utilities_spark.sources.writer import compact_store

SF = "/root/testdata/sf0.001"
_DOCS_SCHEMA = "doc_id bigint, text string"
# the band catalog and the document text, one partition per batch each
SUBS = ("catalog", "docs")


def _absorb(docs, store_dir, part):
    """Append one batch's partition to both sub-stores, several small
    files each, the layout an absorbed batch leaves behind."""
    band_rows(
        minhash_signatures(docs, "doc_id", "text"),
        16,
        4,
    ).repartition(4).write.parquet(f"{store_dir}/catalog/part={part}")
    docs.repartition(4).write.parquet(f"{store_dir}/docs/part={part}")


def _store_sets(spark, store_dir):
    cat = {
        (r["doc"], r["band"], r["bh"])
        for r in spark.read.parquet(f"{store_dir}/catalog").collect()
    }
    docs = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{store_dir}/docs").collect()
    }
    return cat, docs


def _store_parquet_count(store_dir):
    return sum(
        f.endswith(".parquet")
        for dp, _, files in os.walk(store_dir)
        for f in files
    )


def test_compact_store_preserves_semantics(spark, tmp_path):
    """compact_store must (a) leave the store readback bit-identical,
    (b) strictly reduce the parquet file count, (c) keep every batch's
    partition dir as a replay-guard marker beside the compact one, and
    (d) fold a batch absorbed after compaction into the next-indexed
    compact partition on a re-run, rows unchanged."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    arrivals = docs.filter(F.col("doc_id") % 5 == 4)
    b1 = arrivals.filter(F.col("doc_id") % 3 == 0)
    b2 = arrivals.filter(F.col("doc_id") % 3 == 1)
    b3 = arrivals.filter(F.col("doc_id") % 3 == 2)
    # batch 4 arrives after compaction: a near-dup of a batch-1 doc
    planted_src = b1.orderBy("doc_id").limit(1).collect()[0]
    b4 = spark.createDataFrame(
        [(10_000_019, planted_src["text"])], _DOCS_SCHEMA
    )

    store_dir = str(tmp_path / "store")
    for part, b in (("corpus", corpus), ("b1", b1), ("b2", b2), ("b3", b3)):
        _absorb(b, store_dir, part)

    pre_cat, pre_docs = _store_sets(spark, store_dir)
    pre_files = _store_parquet_count(store_dir)
    pre_parts = {
        sub: sorted(os.listdir(f"{store_dir}/{sub}"))
        for sub in SUBS
    }
    assert all(len(v) == 4 for v in pre_parts.values())  # corpus + 3

    n_out = {sub: compact_store(spark, f"{store_dir}/{sub}") for sub in SUBS}
    assert all(v >= 1 for v in n_out.values())

    # (a) readback bit-identical
    assert _store_sets(spark, store_dir) == (pre_cat, pre_docs)
    # (b) file count strictly reduced: 4 partitions x many small
    # files -> one compact partition per sub-store
    post_files = _store_parquet_count(store_dir)
    assert post_files < pre_files
    assert post_files == n_out["catalog"] + n_out["docs"]
    # (c) every pre-compaction partition dir survives as a replay
    # guard marker alongside the new compact partition
    for sub, parts in pre_parts.items():
        now = set(os.listdir(f"{store_dir}/{sub}"))
        assert set(parts) <= now
        assert "part=compact-000001" in now
        for p in parts:
            assert os.listdir(f"{store_dir}/{sub}/{p}") == ["_ABSORBED"]

    # (d) batch 4 lands as a fresh partition next to the compact one
    _absorb(b4, store_dir, "b4")
    assert _store_parquet_count(store_dir) > post_files
    want_cat = pre_cat | {
        (r["doc"], r["band"], r["bh"])
        for r in band_rows(
            minhash_signatures(b4, "doc_id", "text"),
            16,
            4,
        ).collect()
    }
    for sub in SUBS:
        compact_store(spark, f"{store_dir}/{sub}")
    got_cat, got_docs = _store_sets(spark, store_dir)
    assert got_cat == want_cat
    assert got_docs == pre_docs | {(10_000_019, planted_src["text"])}
    for sub in SUBS:
        now = set(os.listdir(f"{store_dir}/{sub}"))
        assert {"part=compact-000001", "part=compact-000002", "part=b4"} <= now
    assert _store_parquet_count(store_dir) == sum(
        len(
            [
                f
                for f in os.listdir(
                    f"{store_dir}/{sub}/part=compact-000002"
                )
                if f.endswith(".parquet")
            ]
        )
        for sub in SUBS
    )


def test_compact_store_recovers_interrupted_swap(spark, tmp_path):
    """A crash between compact_store's two renames strands the store
    in ``.precompact``; the recovery preamble must restore it and the
    run must then complete the compaction."""
    store_dir = str(tmp_path / "store")
    cat_dir = os.path.join(store_dir, "catalog")
    for part, lo in (("part=a", 0), ("part=b", 500)):
        spark.range(lo, lo + 500).repartition(8).write.parquet(
            os.path.join(cat_dir, part)
        )

    def _rows():
        return sorted(r["id"] for r in spark.read.parquet(cat_dir).collect())

    pre = _rows()
    # simulate the crash window: root renamed away, new root not yet in
    os.rename(cat_dir, f"{cat_dir}.precompact")
    n = compact_store(spark, cat_dir)
    assert _rows() == pre
    assert not os.path.isdir(f"{cat_dir}.precompact")
    assert n == 1
    assert sorted(os.listdir(cat_dir)) == [
        "part=a",
        "part=b",
        "part=compact-000001",
    ]
