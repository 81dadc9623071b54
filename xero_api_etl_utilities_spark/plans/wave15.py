"""Catalog wave X179–X180: give the GROWING store a driver-hash
gate and make the model-swap decision itself an oracled operator.

- X179 ``dedup_store_asof`` — the absorbing-store semantics as a
  DuckDB-hash catalog row: the X171 arrival set (doc_id % 5 == 4)
  split into two sequenced batches
  (doc_id % 10 == 4, then doc_id % 10 == 9), each deduped against
  the persisted store AS OF its arrival (corpus, then corpus ∪
  batch 1) and then absorbed — batch 2's pairs can land on batch 1
  documents, which only a growing store can see.  Every store-side
  input is read off the persisted parquet partitions (the X174
  disk-backed discipline applied to the X176 absorb loop).
- X180 ``quality_swap_gate`` — the decision operator a curation run
  executes on X175's drift census: swap to the epoch-B model iff
  global exact-integer agreement ≥ 9000 bp AND no source's verdict
  flip mass exceeds 800 bp.  Deterministic integer verdict row, so
  the swap POLICY — not just the census it reads — is oracled.
- X181 ``dedup_catalog_compact`` — compaction equivalence as a hash
  row: the X179 store's accreted catalog partitions are merged by
  sources.writer.compact_store (replay-guard markers
  preserved), and the COMPACTED read-back is censused per band
  against the from-scratch full-corpus rebuild oracle — the X176
  absorb identity extended through the housekeeping operation:
  compact(absorb*(corpus)) ≡ rebuild(all documents).
- X182 ``similarity_index_absorb`` — the X176 absorb identity
  transposed to the similarity tier: a persisted IVF cell index for
  the corpus vectors, arrivals assigned with the FROZEN coarse
  quantizer and appended as their own partition, combined read-back
  censused per cell against an oracle that re-assigns EVERY vector
  from the raw embeddings.  Equality proves the ANN index is
  append-maintained: cell assignment is a pure per-vector function
  of the frozen centroids, so a 100 TB index absorbs each crawl
  map-only and never rebuilds.
- X183 ``similarity_index_expire`` — the DELETE half on the
  similarity tier (X177's takedown operation transposed): a
  tombstone list drops vectors from the persisted index by broadcast
  anti-join — never a re-assignment — and the survivors are censused
  per cell against an oracle that re-assigns the shrunk vector set
  from raw embeddings.  Equality proves
  expire(tombstones) ≡ rebuild(vectors ∖ tombstones): deletes are
  id-local in the sidecar, completing the index's CRUD story
  (create = publish, absorb = X182, expire = X183, compact =
  sources.writer.compact_store).

Reference provenance: the reference ETL (src/queries.ts) has no
dedup or model tier; these extend the training-data-pipeline
surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators.materialize import (
    materialize,
    session_memo,
)
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register

_BANDS = 16
_ROWS = 4
_MAX_BUCKET = 500


# ---------------------------------------------------------------------------
# X179: the absorbing store replay — batch-sequenced, disk-backed, oracled
# ---------------------------------------------------------------------------

# arrival classes: cls 0 = seed corpus, cls 1 = first crawl batch,
# cls 2 = second crawl batch.  cls 1 ∪ cls 2 == the X171 arrival set
# (doc_id % 5 == 4 ⟺ doc_id % 10 ∈ {4, 9}), so X179 is X171's
# operation with the arrivals sequenced instead of batched whole.
def _cls():
    # built lazily: a Column literal at module scope would require an
    # active SparkContext at import time
    return (
        F.when(F.col("doc") % 10 == 4, F.lit(1))
        .when(F.col("doc") % 10 == 9, F.lit(2))
        .otherwise(F.lit(0))
    )


@session_memo("absorb_replay")
def publish_absorb_replay(spark: SparkSession, sf_dir: str) -> str:
    """Drive the X176/X178 absorb loop in batch mode against a real
    on-disk store, once per session: seed ``catalog/part=corpus`` with
    the cls-0 band rows, then for each batch b in (1, 2): read the
    store catalog OFF PARQUET (every part absorbed so far), census its
    buckets plus the batch's, keep buckets with combined size ≤ 500
    (the sink's stop-bucket rule), equi-join batch bands against store
    bands, verify candidates at 0.7 exact Jaccard (corpus text touched
    only through the candidate semi-join), publish the oriented pairs
    under ``pairs/batch=<b>``, and ABSORB the batch's band rows as
    ``catalog/part=batch-<b>``.  Returns the store root.

    100 TB shape: per batch the store contributes one scan of its band
    sidecar (~16 rows/doc, never the text outside verification) and
    the absorb is a map-only append — a continuous crawl's loop,
    sequenced deterministically so its result has a stable hash.
    """
    from xero_api_etl_utilities_spark.plans.wave10 import _prune_stale_runs
    from xero_api_etl_utilities_spark.plans.wave14 import _catalog_dir

    path = os.path.join(
        os.path.dirname(_catalog_dir(sf_dir, "x")),
        "..",
        "absorb_store",
        f"{os.path.basename(sf_dir.rstrip(os.sep))}"
        f"-{spark.sparkContext.applicationId}",
    )
    path = os.path.abspath(path)
    _prune_stale_runs(path, sf_dir)
    build_absorb_replay(spark, sf_dir, path)
    return path


def build_absorb_replay(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The unmemoized replay build (see :func:`publish_absorb_replay`
    for the operation): writes the seeded store, runs both sequenced
    batches, publishes pairs and absorbs band rows under ``path``.
    Factored out so tests can build a PRIVATE store in a tmp dir —
    catalog entries mutate the session-shared one (``dedup_catalog_compact``
    compacts it),
    so layout-sensitive assertions need their own copy."""
    from xero_api_etl_utilities_spark.operators.dedup import (
        band_rows,
        jaccard_verify,
    )
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    banded = band_rows(
        minhash_sigs(spark, sf_dir), bands=_BANDS, rows_per_band=_ROWS
    ).withColumn("cls", _cls())
    banded.filter(F.col("cls") == 0).select(
        "doc", "band", "bh"
    ).write.mode("overwrite").parquet(
        os.path.join(path, "catalog", "part=corpus")
    )
    docs = load_table(spark, sf_dir, "documents")
    for b in (1, 2):
        store = spark.read.parquet(os.path.join(path, "catalog")).select(
            "doc", "band", "bh"
        )
        batch = banded.filter(F.col("cls") == b).select("doc", "band", "bh")
        kept = (
            store.groupBy("band", "bh")
            .agg(F.count(F.lit(1)).alias("n_store"))
            .join(
                batch.groupBy("band", "bh").agg(
                    F.count(F.lit(1)).alias("n_new")
                ),
                ["band", "bh"],
            )
            .filter(F.col("n_store") + F.col("n_new") <= _MAX_BUCKET)
            .select("band", "bh")
        )
        cands = (
            batch.join(kept, ["band", "bh"])
            .select("band", "bh", F.col("doc").alias("doc_a"))
            .join(
                store.select("band", "bh", F.col("doc").alias("doc_b")),
                ["band", "bh"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        verified = jaccard_verify(
            materialize(cands), docs, "doc_id", "text"
        )
        verified.select(
            F.col("doc_a").alias("new_id"),
            F.col("doc_b").alias("store_id"),
            "inter_size",
            "union_size",
        ).write.mode("overwrite").parquet(
            os.path.join(path, "pairs", f"batch={b}")
        )
        batch.write.mode("overwrite").parquet(
            os.path.join(path, "catalog", f"part=batch-{b}")
        )


def dedup_store_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179: the growing-store dedup semantics as a driver-hash row —
    verified near-dup pairs of two SEQUENCED crawl batches, each
    against the persisted store as of its arrival (batch 1 × corpus;
    batch 2 × (corpus ∪ batch 1)), read back off the published pairs
    artifact.  The oracle replays both arrivals from scratch over the
    raw text, so hash-equality proves the absorb loop — persist,
    census, candidate, verify, absorb, repeat — reproduces exactly
    what a full recompute of each as-of snapshot would emit."""
    path = publish_absorb_replay(spark, sf_dir)
    return spark.read.parquet(os.path.join(path, "pairs")).select(
        F.col("batch").cast("bigint").alias("batch"),
        "new_id",
        "store_id",
        "inter_size",
        "union_size",
    )


def _store_asof_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return (
        "WITH "
        + sk.band_catalog_ctes()
        + f""", tagged AS MATERIALIZED (
  SELECT doc, band, bh,
    CASE WHEN doc % 10 = 4 THEN 1
         WHEN doc % 10 = 9 THEN 2
         ELSE 0 END AS cls
  FROM banded
), cnt AS MATERIALIZED (
  SELECT band, bh,
    SUM(CASE WHEN cls <= 1 THEN 1 ELSE 0 END) AS n01,
    COUNT(*) AS n012
  FROM tagged GROUP BY band, bh
), cand AS MATERIALIZED (
  SELECT DISTINCT n.doc AS doc_a, s.doc AS doc_b
  FROM tagged n
  JOIN tagged s ON n.band = s.band AND n.bh = s.bh
   AND n.cls = 1 AND s.cls = 0
  JOIN cnt c ON c.band = n.band AND c.bh = n.bh
  WHERE c.n01 <= {_MAX_BUCKET}
  UNION
  SELECT DISTINCT n.doc, s.doc
  FROM tagged n
  JOIN tagged s ON n.band = s.band AND n.bh = s.bh
   AND n.cls = 2 AND s.cls <= 1
  JOIN cnt c ON c.band = n.band AND c.bh = n.bh
  WHERE c.n012 <= {_MAX_BUCKET}
),
"""
        + sk.jaccard_verify_ctes()
        + """
SELECT CAST(CASE WHEN doc_a % 10 = 4 THEN 1 ELSE 2 END AS BIGINT) AS batch,
       doc_a AS new_id, doc_b AS store_id, inter_size, union_size
FROM verified
"""
    )


register("dedup_store_asof", dedup_store_asof, _store_asof_oracle)


# ---------------------------------------------------------------------------
# X180: the gated model swap — the decision X175's census feeds, oracled
# ---------------------------------------------------------------------------

_AGREE_MIN_BP = 9000  # swap needs >= 90.00% global verdict agreement
_FLIP_CAP_BP = 800  # and no source may flip > 8.00% of its documents


def quality_swap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180: the model-swap policy as a deterministic integer verdict
    — X175 produces the drift census a curation team READS; this is
    the decision a curation run EXECUTES.  Swap to the epoch-B model
    iff (a) global agreement between the two models' verdicts is at
    least ``_AGREE_MIN_BP`` (computed from the exact un-rounded
    agreement counts, not the per-source rounded bp) and
    (b) no single source's flip mass (newly admitted + newly rejected,
    as a rounded share of the source's documents) exceeds
    ``_FLIP_CAP_BP`` — the per-source cap catches a model that agrees
    globally but rewrites one domain wholesale.

    One verdict row: corpus size, source count, global agreement bp,
    the worst per-source flip bp, how many sources breach the cap, the
    exact total score drift, and the 0/1 swap verdict.  Lowering: the
    whole decision is one dimension-grain aggregate over X175's
    per-source census frame (wave14.drift_counted — two in-row scoring
    folds, one groupBy), so the policy costs nothing beyond the census
    a swap review already runs."""
    from xero_api_etl_utilities_spark.plans.wave14 import drift_counted

    return swap_verdict(drift_counted(spark, sf_dir))


def swap_verdict(counted: DataFrame) -> DataFrame:
    """The swap POLICY itself, factored over any per-source census
    frame with (n_docs, n_gained, n_lost, _agree, score_drift) so the
    decision boundary is directly testable on constructed censuses
    (identical models must swap; a wholesale-flipping source must
    veto) independent of the trained weights."""
    per_source = counted.withColumn(
        "flip_bp",
        F.expr(
            "CAST((20000 * (n_gained + n_lost) + n_docs) div (2 * n_docs)"
            " AS BIGINT)"
        ),
    )
    return (
        per_source.agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("_agree").cast("bigint").alias("_agree_total"),
            F.max("flip_bp").cast("bigint").alias("max_flip_bp"),
            F.sum((F.col("flip_bp") > _FLIP_CAP_BP).cast("int"))
            .cast("bigint")
            .alias("n_sources_over_cap"),
            F.sum("score_drift").cast("bigint").alias("score_drift_total"),
        )
        .withColumn(
            "agree_bp",
            F.expr(
                "CAST((20000 * _agree_total + n_docs) div (2 * n_docs)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "swap_model",
            F.when(
                (F.col("agree_bp") >= _AGREE_MIN_BP)
                & (F.col("n_sources_over_cap") == 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .select(
            "n_docs",
            "n_sources",
            "agree_bp",
            "max_flip_bp",
            "n_sources_over_cap",
            "score_drift_total",
            "swap_model",
        )
    )


def _swap_gate_oracle() -> str:
    from xero_api_etl_utilities_spark.plans.wave14 import drift_counted_ctes

    return (
        "WITH "
        + drift_counted_ctes()
        + f""", per_source AS (
  SELECT *,
    CAST((20000 * (n_gained + n_lost) + n_docs) // (2 * n_docs)
         AS BIGINT) AS flip_bp
  FROM counted
)
SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_sources,
  CAST((20000 * SUM(agree) + SUM(n_docs)) // (2 * SUM(n_docs))
       AS BIGINT) AS agree_bp,
  CAST(MAX(flip_bp) AS BIGINT) AS max_flip_bp,
  CAST(SUM(CASE WHEN flip_bp > {_FLIP_CAP_BP} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_sources_over_cap,
  CAST(SUM(score_drift) AS BIGINT) AS score_drift_total,
  CAST(CASE WHEN (20000 * SUM(agree) + SUM(n_docs))
                 // (2 * SUM(n_docs)) >= {_AGREE_MIN_BP}
             AND SUM(CASE WHEN flip_bp > {_FLIP_CAP_BP} THEN 1 ELSE 0 END) = 0
        THEN 1 ELSE 0 END AS BIGINT) AS swap_model
FROM per_source
"""
    )


register("quality_swap_gate", quality_swap_gate, _swap_gate_oracle)


# ---------------------------------------------------------------------------
# X181: catalog compaction — the housekeeping op itself gets a hash gate
# ---------------------------------------------------------------------------

_HASH_P = 1_000_000_007


def dedup_catalog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prove the small-files housekeeping preserves the store
    bit-for-bit — the absorb replay store's catalog partitions (corpus
    + two absorbed batches) are merged by ``compact_store`` into one
    size-targeted partition (replay-guard marker dirs preserved), and
    the compacted read-back is censused per band exactly like
    ``dedup_catalog_absorb``:
    row count, distinct documents, distinct buckets, Σ bh mod p.  The
    oracle REBUILDS the banding from the raw text of every document,
    so hash-equality extends the absorb identity through compaction:
    compact(absorb(absorb(corpus))) ≡ rebuild(corpus ∪ b1 ∪ b2).

    Idempotent across reruns: re-compacting a compacted store merges
    the single compact partition into the next index — same rows.

    100 TB shape: compaction reads the band sidecar once and writes
    ceil(bytes/target) files — never the documents; without it a
    crawl-cadence store accretes one partition of kilobyte files per
    batch until file-open cost dominates every scan."""
    from xero_api_etl_utilities_spark.sources.writer import compact_store

    catalog = os.path.join(publish_absorb_replay(spark, sf_dir), "catalog")
    compact_store(spark, catalog)
    compacted = spark.read.parquet(catalog).select(
        "doc", F.col("band").cast("int").alias("band"), "bh"
    )
    return (
        compacted.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc").cast("bigint").alias("n_docs"),
            F.countDistinct("bh").cast("bigint").alias("n_buckets"),
            F.sum(F.col("bh") % _HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_compact_oracle() -> str:
    # the absorb-vs-rebuild oracle verbatim: the replay store holds
    # band rows for EVERY document (corpus + both absorbed batches),
    # so the compacted census is held to the same full-rebuild
    # standard as the absorb census.
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


register("dedup_catalog_compact", dedup_catalog_compact, _catalog_compact_oracle)


# ---------------------------------------------------------------------------
# X182: IVF index absorb — append-maintained ANN, censused vs re-assignment
# ---------------------------------------------------------------------------


@session_memo("ivf_index")
def publish_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the IVF cell index as the similarity tier's store-side
    artifact, once per session: the frozen coarse quantizer (the
    standard k=16 / iters=4 / sample=1000 trainer every IVF entry in
    this repo uses) assigns the corpus vectors (vec_id % 5 != 4) under
    ``index/part=corpus``, then the crawl arrivals (vec_id % 5 == 4)
    are assigned with the SAME centroids — map-only, broadcast
    literals, no shuffle — and appended as ``index/part=arrivals``.

    100 TB shape: the index is the ~8 B/vector (vec_id, cell) sidecar
    an ANN store keeps; absorbing a crawl costs one scan of the batch
    against 16 inlined centroids, and the quantizer retrain decision
    is a separate drift-gated operation (the retrain lifecycle)."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.plans.wave10 import _prune_stale_runs
    from xero_api_etl_utilities_spark.plans.wave14 import _catalog_dir
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    path = os.path.abspath(
        os.path.join(
            os.path.dirname(_catalog_dir(sf_dir, "x")),
            "..",
            "ivf_index",
            f"{os.path.basename(sf_dir.rstrip(os.sep))}"
            f"-{spark.sparkContext.applicationId}",
        )
    )
    _prune_stale_runs(path, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb)
    for part, pred in (
        ("corpus", F.col("vec_id") % 5 != 4),
        ("arrivals", F.col("vec_id") % 5 == 4),
    ):
        ivf.assign_cells(emb.filter(pred), cents).select(
            "vec_id", "cell"
        ).write.mode("overwrite").parquet(
            os.path.join(path, "index", f"part={part}")
        )
    return path


def similarity_index_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: absorb-vs-rebuild for the ANN index — the combined
    read-back (corpus partition ∪ the arrivals absorbed under the
    frozen quantizer) censused per cell: vector count, how many came
    from the absorbed crawl, and an id checksum.  The oracle
    re-assigns EVERY vector from the raw embeddings with the same
    inlined centroid literals; hash-equality proves
    absorb(arrivals) ≡ rebuild(all vectors) — cell assignment is a
    pure per-vector function of the frozen centroids, which is
    exactly why a production IVF index is maintained by appending
    each crawl's assignments instead of re-indexing the corpus."""
    path = publish_ivf_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "index")).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    return idx.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("vec_id") % 5 == 4).cast("int"))
        .cast("bigint")
        .alias("n_absorbed"),
        F.sum(F.col("vec_id") % _HASH_P).cast("bigint").alias("id_hash_sum"),
    )


def _index_absorb_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    cents = train_centroids_from_parquet(os.path.join(oracle_sf_dir(), "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
)
SELECT CAST(cell AS INT) AS cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_absorbed,
  CAST(SUM(vec_id % {_HASH_P}) AS BIGINT) AS id_hash_sum
FROM assigned GROUP BY cell
"""


register(
    "similarity_index_absorb", similarity_index_absorb, _index_absorb_oracle
)


# ---------------------------------------------------------------------------
# X183: IVF index expiry — tombstone deletes on the ANN sidecar
# ---------------------------------------------------------------------------

_VEC_TOMBSTONE_MOD = 7  # vec_id % 7 == 3 plays the takedown list (X177's rule)


def similarity_index_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: expire a takedown list from the persisted IVF index — the
    right-to-be-forgotten operation on the similarity tier, without
    touching an embedding.  The tombstone set (vec_id % 7 == 3, the
    X177 convention) broadcast-anti-joins the full persisted index
    (corpus ∪ absorbed arrivals, off parquet); survivors are censused
    per cell — count, absorbed-crawl count, id checksum — against an
    oracle that RE-ASSIGNS the shrunk vector set from the raw
    embeddings with the same frozen centroid literals.  Equality
    proves expire(tombstones) ≡ rebuild(vectors ∖ tombstones):
    deletes are id-local in the ~8 B/vector sidecar, exactly like
    absorbs are batch-local, so the index never rebuilds.

    Lowering: a legal takedown list is dimension-sized at any corpus
    scale, so it broadcasts; the index never shuffles — one sidecar
    scan, one broadcast anti-join, one 16-group aggregate."""
    from xero_api_etl_utilities_spark.sources.parquet import load_table

    path = publish_ivf_index(spark, sf_dir)
    idx = spark.read.parquet(os.path.join(path, "index")).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _VEC_TOMBSTONE_MOD == 3)
        .select("vec_id")
    )
    surviving = idx.join(F.broadcast(tombstones), "vec_id", "left_anti")
    return surviving.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum((F.col("vec_id") % 5 == 4).cast("int"))
        .cast("bigint")
        .alias("n_absorbed"),
        F.sum(F.col("vec_id") % _HASH_P).cast("bigint").alias("id_hash_sum"),
    )


def _index_expire_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    cents = train_centroids_from_parquet(os.path.join(oracle_sf_dir(), "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % {_VEC_TOMBSTONE_MOD} <> 3
), assigned AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
)
SELECT CAST(cell AS INT) AS cell,
  CAST(COUNT(*) AS BIGINT) AS n_vecs,
  CAST(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_absorbed,
  CAST(SUM(vec_id % {_HASH_P}) AS BIGINT) AS id_hash_sum
FROM assigned GROUP BY cell
"""


register(
    "similarity_index_expire", similarity_index_expire, _index_expire_oracle
)
