"""Semantics pins for the r15 wave: the sequenced absorbing-store
replay (X179) and the gated model swap (X180).

The oracle gate proves Spark == DuckDB on the generated tables; these
cases pin the contracts themselves: the as-of store's relationship to
the one-shot incremental form (corpus-side pairs identical, plus
cross-arrival pairs only a growing store can emit), publish
memoization and artifact layout, batch-1 isolation from batch-2
arrivals, and the swap policy's decision boundary on constructed
censuses independent of the trained weights.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_store_asof_corpus_side_equals_one_shot_incremental(spark):
    """X179's union over both batches, restricted to (new × corpus)
    pairs, must equal X171's one-shot incremental output exactly: the
    sequencing changes WHEN an arrival is deduped, never WHAT pairs it
    forms against the seed corpus (the stop-bucket caps never bind
    differently on this corpus — the documented watermark-class
    caveat).  Cross-arrival pairs (store side in the arrival set) are
    the growing store's additional output: they exist, and only in
    batch 2 (batch 1's store is the pure corpus)."""
    from xero_api_etl_utilities_spark.plans.wave13 import (
        dedup_incremental_pairs,
    )
    from xero_api_etl_utilities_spark.plans.wave15 import dedup_store_asof

    asof = dedup_store_asof(spark, SF).collect()
    one_shot = {
        (r["new_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in dedup_incremental_pairs(spark, SF).collect()
    }
    corpus_side = {
        (r["new_id"], r["store_id"], r["inter_size"], r["union_size"])
        for r in asof
        if r["store_id"] % 5 != 4
    }
    assert corpus_side == one_shot
    cross = [r for r in asof if r["store_id"] % 5 == 4]
    assert cross, "growing store must emit cross-arrival pairs"
    assert all(r["batch"] == 2 for r in cross)
    # batch-1 rows never see batch-2 docs on either side (as-of order)
    assert all(
        r["store_id"] % 10 != 9 and r["new_id"] % 10 == 4
        for r in asof
        if r["batch"] == 1
    )
    assert all(r["new_id"] % 10 == 9 for r in asof if r["batch"] == 2)


def test_store_asof_publish_layout_and_memoization(spark):
    """The replay store is a real on-disk artifact: catalog parts for
    the corpus and each absorbed batch, pairs partitioned by batch —
    and the publish runs once per session (memoized path)."""
    from xero_api_etl_utilities_spark.plans.wave15 import (
        publish_absorb_replay,
    )

    p1 = publish_absorb_replay(spark, SF)
    p2 = publish_absorb_replay(spark, SF)
    assert p1 == p2
    # subset, not equality: X181 (or its plan-shape test) may have
    # compacted the shared store already, adding a part=compact-* dir
    # and stripping the originals to marker dirs — both are expected
    # states of the session-shared artifact
    cat_parts = set(os.listdir(os.path.join(p1, "catalog")))
    assert {"part=batch-1", "part=batch-2", "part=corpus"} <= cat_parts
    assert sorted(os.listdir(os.path.join(p1, "pairs"))) == [
        "batch=1",
        "batch=2",
    ]
    # the absorbed catalog equals the full banding: every doc, 16 rows
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet").count()
    )
    cat = spark.read.parquet(os.path.join(p1, "catalog"))
    assert cat.count() == n_docs * 16
    assert cat.select("doc").distinct().count() == n_docs


def _verdict_row(spark, rows):
    from xero_api_etl_utilities_spark.plans.wave15 import swap_verdict

    counted = spark.createDataFrame(
        rows,
        "source string, n_docs bigint, n_pos_a bigint, n_pos_b bigint,"
        " n_gained bigint, n_lost bigint, _agree bigint, score_drift bigint",
    )
    return swap_verdict(counted).collect()[0]


def test_swap_policy_decision_boundary(spark):
    """The factored policy on constructed censuses: identical models
    swap (agreement 100%, zero flips); one source flipping wholesale
    vetoes even at high global agreement; global disagreement below
    the 9000 bp floor vetoes even with every source under the flip
    cap."""
    # identical models over two sources
    r = _verdict_row(
        spark,
        [("a", 100, 40, 40, 0, 0, 100, 0), ("b", 300, 10, 10, 0, 0, 300, 0)],
    )
    assert (
        r["swap_model"],
        r["agree_bp"],
        r["max_flip_bp"],
        r["n_sources_over_cap"],
    ) == (1, 10000, 0, 0)
    assert (r["n_docs"], r["n_sources"]) == (400, 2)

    # source b rewritten wholesale: global agreement still 9250 bp,
    # but the per-source cap vetoes the swap
    r = _verdict_row(
        spark,
        [
            ("a", 3700, 400, 400, 0, 0, 3700, 0),
            ("b", 300, 0, 300, 300, 0, 0, 900),
        ],
    )
    assert r["agree_bp"] == 9250
    assert (r["swap_model"], r["n_sources_over_cap"]) == (0, 1)
    assert r["max_flip_bp"] == 10000

    # every source under the flip cap (97.5% agree each) scales: ok
    r = _verdict_row(
        spark,
        [("a", 400, 100, 105, 5, 5, 390, 7), ("b", 400, 50, 52, 2, 0, 398, -3)],
    )
    assert r["swap_model"] == 1 and r["n_sources_over_cap"] == 0
    assert r["score_drift_total"] == 4

    # global agreement below 9000 bp vetoes even with flips spread
    # thin... 8.0% flips per source is under the cap only at <= 800 bp,
    # so use many sources each at exactly the cap boundary
    rows = [
        (f"s{i}", 1000, 500, 500, 40, 40, 920, 0) for i in range(10)
    ]
    r = _verdict_row(spark, rows)
    assert r["max_flip_bp"] == 800 and r["n_sources_over_cap"] == 0
    assert r["agree_bp"] == 9200 and r["swap_model"] == 1
    rows = [
        (f"s{i}", 1000, 500, 500, 60, 60, 880, 0) for i in range(10)
    ]
    r = _verdict_row(spark, rows)
    assert r["agree_bp"] == 8800
    assert r["swap_model"] == 0 and r["n_sources_over_cap"] == 10


def test_catalog_compact_census_and_files(spark, tmp_path):
    """Compacting the replay store's catalog must preserve the band
    rows exactly (set equality of the read-back), strictly reduce the
    parquet file count, keep the absorbed partitions' dirs alive as
    markers, and be idempotent on a second invocation.  Built as a
    PRIVATE store in tmp_path — the session-shared memoized store may
    already be compacted by the ``dedup_catalog_compact`` entry running
    earlier in the same session, which would void the file-count
    baseline."""
    from xero_api_etl_utilities_spark.plans.wave15 import (
        build_absorb_replay,
    )
    from xero_api_etl_utilities_spark.sources.writer import compact_store

    path = str(tmp_path / "store")
    build_absorb_replay(spark, SF, path)
    cat_dir = os.path.join(path, "catalog")

    def _rows():
        return {
            (r["doc"], int(r["band"]), r["bh"])
            for r in spark.read.parquet(cat_dir).collect()
        }

    def _files():
        return sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(cat_dir)
            for f in files
        )

    pre_rows, pre_files = _rows(), _files()
    compact_store(spark, cat_dir)
    assert _rows() == pre_rows
    assert _files() < pre_files
    now = set(os.listdir(cat_dir))
    assert {"part=corpus", "part=batch-1", "part=batch-2"} <= now
    assert any(p.startswith("part=compact-") for p in now)
    post_files = _files()
    compact_store(spark, cat_dir)
    assert _rows() == pre_rows and _files() == post_files


def test_ivf_index_absorb_equals_full_assignment(spark):
    """The combined persisted index (corpus partition + the
    arrivals absorbed under the frozen quantizer) must equal a
    one-shot assignment of every vector — cell assignment is a pure
    per-vector function of the frozen centroids — and the publish is
    session-memoized."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.plans.wave15 import (
        publish_ivf_index,
        similarity_index_absorb,
    )

    p1 = publish_ivf_index(spark, SF)
    assert publish_ivf_index(spark, SF) == p1
    assert sorted(os.listdir(os.path.join(p1, "index"))) == [
        "part=arrivals",
        "part=corpus",
    ]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf.train_centroids(emb)
    want = {
        (r["vec_id"], r["cell"])
        for r in ivf.assign_cells(emb, cents)
        .select("vec_id", "cell")
        .collect()
    }
    got = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(p1, "index")).collect()
    }
    assert got == want
    census = similarity_index_absorb(spark, SF).collect()
    assert sum(r["n_vecs"] for r in census) == emb.count()
    assert sum(r["n_absorbed"] for r in census) == emb.filter(
        F.col("vec_id") % 5 == 4
    ).count()
    assert any(r["n_absorbed"] > 0 for r in census)


def test_ivf_index_expire_drops_exactly_the_tombstones(spark):
    """X183: expiry must remove exactly the tombstoned ids from the
    persisted index — survivors keep their original cells (no
    re-assignment), and the census totals shrink by the tombstone
    count."""
    from xero_api_etl_utilities_spark.plans.wave15 import (
        _VEC_TOMBSTONE_MOD,
        publish_ivf_index,
        similarity_index_absorb,
        similarity_index_expire,
    )

    p1 = publish_ivf_index(spark, SF)
    idx = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(os.path.join(p1, "index")).collect()
    }
    survivors = {
        (v, c) for v, c in idx if v % _VEC_TOMBSTONE_MOD != 3
    }
    assert survivors < idx  # some tombstones existed
    full = similarity_index_absorb(spark, SF).collect()
    expired = similarity_index_expire(spark, SF).collect()
    assert sum(r["n_vecs"] for r in expired) == len(survivors)
    assert sum(r["n_vecs"] for r in full) == len(idx)
    # per-cell: expired counts never exceed full counts (id-local
    # deletes cannot move a vector between cells)
    full_by_cell = {r["cell"]: r["n_vecs"] for r in full}
    assert all(
        r["n_vecs"] <= full_by_cell[r["cell"]] for r in expired
    )


def test_swap_gate_consistent_with_drift_census(spark):
    """The catalog entry's verdict must be arithmetically consistent
    with X175's published drift table on the same corpus: flip caps
    recomputed from the census columns, totals matching."""
    from xero_api_etl_utilities_spark.plans.wave14 import text_quality_drift
    from xero_api_etl_utilities_spark.plans.wave15 import (
        _FLIP_CAP_BP,
        quality_swap_gate,
    )

    census = text_quality_drift(spark, SF).collect()
    got = quality_swap_gate(spark, SF).collect()[0]
    assert got["n_docs"] == sum(r["n_docs"] for r in census)
    assert got["n_sources"] == len(census)
    flips = [
        (20000 * (r["n_gained"] + r["n_lost"]) + r["n_docs"])
        // (2 * r["n_docs"])
        for r in census
    ]
    assert got["max_flip_bp"] == max(flips)
    assert got["n_sources_over_cap"] == sum(f > _FLIP_CAP_BP for f in flips)
    assert got["score_drift_total"] == sum(r["score_drift"] for r in census)
    assert got["swap_model"] in (0, 1)
