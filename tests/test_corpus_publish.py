"""X155 pipeline_corpus_publish (plans/wave10.py): the on-disk
curated-corpus artifact must be BYTE-FAITHFUL to the in-memory
emit→pack frame, and the packing must honor the fixed-budget contract.

The catalog entry's DuckDB oracle certifies the census; this gate
certifies the artifact itself — every row, including the rebuilt
kept_text, survives the source-partitioned write→read roundtrip.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _artifact_frames(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("XERO_SPARK_PUBLISH_DIR", str(tmp_path))
    from xero_api_etl_utilities_spark.operators.packing import pack_fixed_budget
    from xero_api_etl_utilities_spark.plans import curation_ops as wave10
    from xero_api_etl_utilities_spark.plans.text_ops import span_dedup_frame
    from xero_api_etl_utilities_spark.sources.writer import read_partitioned

    path = wave10.publish_corpus(spark, sf_dir)
    assert str(tmp_path) in path
    frame = span_dedup_frame(spark, sf_dir).filter(F.col("kept_tokens") > 0)
    packed = pack_fixed_budget(
        frame, "doc_id", "kept_tokens", wave10._PACK_BUDGET, shard_col="source"
    )
    expected = frame.join(packed.select("doc_id", "pack_id"), "doc_id").select(
        "doc_id", "source", "kept_tokens", "kept_text", "pack_id"
    )
    return expected, read_partitioned(spark, path)


def test_publish_roundtrip_is_exact(spark, sf_dir, tmp_path, monkeypatch):
    expected, rb = _artifact_frames(spark, sf_dir, tmp_path, monkeypatch)
    cols = ["doc_id", "source", "kept_tokens", "kept_text", "pack_id"]
    exp_rows = {tuple(r) for r in expected.select(*cols).collect()}
    got_rows = {tuple(r) for r in rb.select(*cols).collect()}
    assert len(exp_rows) > 0
    assert got_rows == exp_rows


def test_publish_pack_budget_contract(spark, sf_dir, tmp_path, monkeypatch):
    """Next-fit-by-boundary contract: a pack overflows the budget by
    at most (max doc tokens - 1), and within a shard every non-final
    pack reaches the budget once its successor exists (pack boundaries
    sit at fixed multiples of the budget along the token stream, so
    prefix mass through pack p is > p * budget whenever pack p+1 has
    rows)."""
    from xero_api_etl_utilities_spark.plans import curation_ops as wave10

    _, rb = _artifact_frames(spark, sf_dir, tmp_path, monkeypatch)
    budget = wave10._PACK_BUDGET
    stats = (
        rb.groupBy("source", "pack_id")
        .agg(
            F.sum("kept_tokens").alias("tok"),
            F.max("kept_tokens").alias("mx"),
        )
        .collect()
    )
    by_shard: dict[str, dict[int, tuple[int, int]]] = {}
    for r in stats:
        by_shard.setdefault(r["source"], {})[r["pack_id"]] = (r["tok"], r["mx"])
    assert by_shard
    for packs in by_shard.values():
        # contiguous pack ids from 0
        assert sorted(packs) == list(range(len(packs)))
        running = 0
        for pid in sorted(packs):
            tok, mx = packs[pid]
            assert tok < budget + mx, (pid, tok, mx)
            running += tok
            if pid + 1 in packs:
                # the first doc of pack p+1 has prev >= (p+1)*budget,
                # and prev == mass of packs 0..p — so the boundary
                # really was crossed
                assert running >= (pid + 1) * budget, (pid, running)


def test_publish_default_dir_inside_repo(monkeypatch):
    """ADVICE r10 regression: with no env override, the default X155
    artifact path must resolve INSIDE the repo's git-ignored
    spark-warehouse dir — an extra dirname once landed it at the
    repo's PARENT (/root/spark-warehouse), colliding across checkouts."""
    import os

    import xero_api_etl_utilities_spark as pkg
    from xero_api_etl_utilities_spark.plans.curation_ops import _publish_dir

    monkeypatch.delenv("XERO_SPARK_PUBLISH_DIR", raising=False)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    path = _publish_dir("/root/testdata/sf0.01")
    assert path == os.path.join(
        repo_root, "spark-warehouse", "corpus_publish", "sf0.01"
    )


def test_stale_run_dirs_pruned(tmp_path):
    """Per-run artifact isolation must not accumulate one full-corpus
    dir per session: writing this run's artifact prunes prior-run
    siblings for the SAME sf, and leaves other-sf artifacts alone
    (ADVICE r11)."""
    import os

    from xero_api_etl_utilities_spark.plans.dedup_ops import prune_stale_runs as _prune_stale_runs

    base = tmp_path / "corpus_publish"
    for d in ("sf0.01-oldapp", "sf0.01-curapp", "sf0.1-otherapp", "sf0.01"):
        (base / d).mkdir(parents=True)
    cur = str(base / "sf0.01-curapp")
    _prune_stale_runs(cur, "/root/testdata/sf0.01")
    left = sorted(os.listdir(base))
    # same-sf prior run pruned; current run, other sf, and the
    # suffixless legacy dir (no run isolation -> not a run sibling) kept
    assert left == ["sf0.01", "sf0.01-curapp", "sf0.1-otherapp"]
