"""Near-duplicate catalog queries: the ``dedup_`` and ``decontaminate_``
families.

Exact, n-gram, MinHash-LSH, SimHash, containment and embedding-cosine
deduplication over the ``documents`` and ``embeddings`` tables, their
verified pairs, clusters and reports, benchmark decontamination, and
the persisted band catalog (absorb, expire, compact, as-of reads).  No
reference counterpart.  The sketches hash with crosshash, so each
oracle re-runs the whole algorithm in DuckDB SQL
(``plans/sketch_oracles.py``).

This family owns the shared substrates other families read:
``minhash_sigs``, ``lsh_candidates``, ``verified_pairs`` and
``doc_clusters`` (session memos), and the on-disk store helpers
``catalog_dir`` and ``prune_stale_runs``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators import dedup as dd
from xero_api_etl_utilities_spark.operators import textnorm as tn
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
    session_memo,
)
from xero_api_etl_utilities_spark.plans import sketch_oracles as sk
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.plans.sketch_oracles import minhash_cand_ctes, vec_lit
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: survivor = min doc_id per distinct text, dup
    count per group. GroupBy on the sha256 digest so the shuffle never
    carries document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id")


register(
    "dedup_exact",
    dedup_exact,
    """
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents GROUP BY sha256(text)
""",
)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup: exact token-set (1-gram) Jaccard pairs at
    threshold 0.7 over a deterministic 1-in-5 document slice (the
    all-pairs exact form exists for oracle checking; the corpus-scale
    path is dedup_minhash_lsh). The synthetic corpus shares a small
    vocabulary, so token-set Jaccard is the discriminative shingle
    choice (word-3-grams max out at 0.04 similarity here)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return dd.jaccard_pairs(docs, "doc_id", "text")


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents WHERE doc_id % 5 = 0
), shingled AS (
  SELECT DISTINCT doc_id AS doc, sh FROM docs, UNNEST(toks) AS t(sh)
), sizes AS (
  SELECT doc, COUNT(*) AS sz FROM shingled GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter_size
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       CAST(inter_size AS BIGINT) AS inter_size,
       CAST(sa.sz + sb.sz - inter_size AS BIGINT) AS union_size
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE 10 * inter_size >= 7 * (sa.sz + sb.sz - inter_size)
""",
    bounded=True,
)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: MinHash(64) + LSH(16 bands × 4 rows) candidate
    pairs over the full corpus (token-set shingles, matching the
    exact query's choice). Banding is RECALL-tuned: the 50%-candidate
    threshold (1/bands)^(1/rows) must sit BELOW the dedup target so
    pairs at the target are caught — (16,4) puts it at 0.5 and
    measures 0.998 recall at Jaccard ≥ 0.7, where the
    threshold-"aligned" (8,8) ≈ 0.77 banding measured only 0.75
    (tools/lsh_sweep.py; the false-positive cost lands on the cheap
    exact-verify stage, see dedup_verified_pairs). Shuffle is
    O(docs × bands) — never the O(docs²) cross join. The DuckDB
    oracle re-runs the full integer-exact algorithm
    (sketch_oracles).  This query RETURNS the memoized
    candidate substrate (lsh_candidates — identical
    parameters) instead of rebuilding signatures+banding: the
    candidates→verify subtree was already computed once per session
    for the five verify-side consumers, and recomputing it here paid
    ~5 s per bench run for bit-identical output."""
    return lsh_candidates(spark, sf_dir)


register("dedup_minhash_lsh", dedup_minhash_lsh, sk.minhash_lsh_oracle)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (oracle re-runs the
    integer-exact bit algorithm; also pinned by a pure-python unit
    reference)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash64(docs, "doc_id", "text")


register("dedup_simhash", dedup_simhash, sk.simhash_oracle)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.35) over a
    deterministic 1-in-5 slice. IDs only in the output: the 0.35
    threshold sits >=7e-5 away from every pair in this corpus, far
    beyond cross-engine float-summation ulp differences, so the pair
    SET is engine-stable even though the raw floats are not."""
    from xero_api_etl_utilities_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    # Pre-normalize ONCE PER ROW before the pair join: cosine(va, vb)
    # inside the join filter would re-fold both norms per PAIR (3
    # interpreted array folds × |pairs|); unit-scaling each side first
    # leaves a single dot fold per pair — measured ~2.5× faster with an
    # identical pair set (the 0.35 threshold's ≥7e-5 margin dwarfs the
    # ulp-level float reassociation).
    # The norm lives in its OWN projection so it is not dragged inside
    # the division lambda (lambda bodies are invisible to Catalyst CSE —
    # same trap token_ngrams had).
    normed = emb.select(
        "vec_id", "embedding", F.greatest(_norm(F.col("embedding")), F.lit(1e-12)).alias("_nrm")
    )
    unitized = normed.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("_nrm")).alias("u"),
    )
    a = unitized.select(F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
    b = unitized.select(F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(_dot(F.col("ua"), F.col("ub")) >= 0.35)
        .select("id_a", "id_b")
    )


register(
    "dedup_embedding_cosine",
    dedup_embedding_cosine,
    """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.35
""",
)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via 16-bit banding —
    completes the SimHash path from fingerprint to pair set (oracle
    re-runs fingerprint + banding + Hamming filter in SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dd.simhash64(docs, "doc_id", "text")
    return dd.simhash_near_dups(fps)


register("dedup_simhash_pairs", dedup_simhash_pairs, sk.simhash_pairs_oracle)


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep — every 20th document plays
    the benchmark set, the rest are the training corpus; report
    training docs sharing ≥1 distinct word-trigram with the benchmark
    and how many. Real pipelines use 8-grams, but this corpus draws from a ~30-word vocabulary where
    8-gram collisions never occur by chance — trigrams give the
    oracle a meaningful count distribution. Benchmark n-grams are
    broadcast; the corpus side never shuffles bodies."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return tn.ngram_overlap(train, bench, "doc_id", "text")


register(
    "decontaminate_ngrams",
    decontaminate_ngrams,
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), grams AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS ng
  FROM toks
), bench AS (
  SELECT DISTINCT ng FROM grams WHERE doc_id % 20 = 0
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM grams JOIN bench USING (ng)
WHERE doc_id % 20 <> 0
GROUP BY doc_id
""",
)


# --------------------------------------------------------------------------
# dedup cluster assignment
# --------------------------------------------------------------------------

# The candidates → exact-verify subtree is the expensive upstream of
# BOTH dedup_verified_pairs and dedup_clusters (~10 s each at sf0.1).
# They are two views of ONE pipeline stage, so it is built once per
# session and both consumers get the same materialized frame — what a
# production DAG does with a shared stage.


@session_memo("dedup_sigs")
def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus MinHash signature frame (64 hashes, unigram
    shingles — the production banding params), materialized once per
    session.

    The shingle-explode + 64-way min aggregate is the single most
    expensive sketch pass, and four consumers need it (candidate
    build, the cleaning pipeline's survivor signatures, the
    band-census query, the estimator-calibration query).  Signatures
    are pure per-document functions of the text, so every consumer
    derives from THIS frame: subset runs are semi-joins/filters of it,
    never recomputations.

    100 TB shape: ~520 B/doc (64 × 8 B mins + the id) — the standard
    materialized sketch column a production corpus store keeps
    alongside the text; one corpus scan builds it."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # Repartitioning the docs scan before the tokenize+shingle+64-min
    # pass measured SLOWER cold (the extra exchange stage costs more to
    # JIT+run than the single-row-group scan task saves at this corpus
    # size: 8.0 → 10.7 s cold A/B), so it stays on the scan's natural
    # partitioning.
    sigs = dd.minhash_signatures(docs, "doc_id", "text")
    return materialize(sigs)


@session_memo("dedup_candidates")
def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-tuned MinHash-LSH candidate set, materialized once
    per session: the shared upstream of BOTH verify rules (jaccard for
    dedup_verified_pairs/dedup_clusters, containment for
    dedup_containment)."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    cands = dd.minhash_lsh_candidates(
        minhash_sigs(spark, sf_dir), bands=16, rows_per_band=4
    )
    # The operator's pair-keyed dedup already lands the frame at
    # compute width (see minhash_lsh_candidates), so the memo
    # checkpoints it as-is and every CPU-bound consumer (exact
    # verify, calibration's sampled-intersect census) inherits the
    # parallelism.
    return materialize(cands)


@session_memo("dedup_substrate")
def verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # the memoized candidate checkpoint already sits at compute width
    # (pair-keyed exchange in minhash_lsh_candidates)
    pairs = dd.jaccard_verify(
        lsh_candidates(spark, sf_dir), docs, "doc_id", "text"
    )
    return materialize(pairs)


def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup pair flow — recall-tuned LSH
    candidates (0.998 measured recall at the 0.7 target,
    tools/lsh_sweep.py) then exact-Jaccard verification restricted to
    candidates (O(candidates × shingles), never all-pairs). This is
    what dedup_ngram_jaccard computes exactly on a small slice, now
    corpus-scale-shaped."""
    return verified_pairs(spark, sf_dir)


def _verified_pairs_oracle() -> str:
    return sk.verified_pairs_oracle()


register("dedup_verified_pairs", dedup_verified_pairs, _verified_pairs_oracle)


@session_memo("doc_clusters")
def doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document, materialized once per
    session: connected components iterate driver-side jobs at BUILD
    time, so the two consumers (dedup_clusters, the cluster-size
    histogram) must share one run, not re-propagate."""
    return materialize(_build_clusters(spark, sf_dir))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate GROUPS. Connected
    components (min-label propagation, operators/graph.py) over the
    VERIFIED near-dup graph — clustering raw LSH candidates would
    over-merge through false-positive edges (candidate precision
    ~0.55 at this banding). Every document gets a deterministic
    cluster_id = min doc_id of its component (singletons: their own
    id). The oracle runs the same candidates → verify → propagation
    as a recursive CTE."""
    return doc_clusters(spark, sf_dir)


def _build_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xero_api_etl_utilities_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = verified_pairs(spark, sf_dir)  # shared, materialized once
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("u1"), F.col("doc_b").alias("u2"))
    )
    return docs.join(comp, docs["doc_id"] == comp["doc"], "left").select(
        docs["doc_id"],
        F.coalesce(comp["cluster_id"], docs["doc_id"]).alias("cluster_id"),
    )


def _dedup_clusters_oracle() -> str:
    return sk.dedup_clusters_oracle()


register("dedup_clusters", dedup_clusters, _dedup_clusters_oracle)


# ---------------------------------------------------------------------------
# near-dup benchmark decontamination
# ---------------------------------------------------------------------------

_NDCONTAM_MOD, _NDCONTAM_RESIDUE = 13, 7


def decontaminate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination at the NEAR-DUP level — the gap
    ``decontaminate_ngrams`` leaves open: exact 8-gram overlap misses
    paraphrased or lightly-edited benchmark leakage, which is exactly
    what MinHash similarity catches (the published eval-contamination
    analyses run both checks).  The "benchmark" is the deterministic
    doc_id % 13 == 7 slice (a stand-in eval set, as elsewhere);
    flagged output = every (corpus doc, benchmark doc) pair with
    verified token-set Jaccard >= 0.7, oriented corpus-first.

    Cost is MARGINAL: the pairs come from the memoized
    candidates -> exact-verify substrate (the dedup_verified_pairs /
    dedup_clusters build, timed once as dedup_substrate_build) — this
    query adds one scan predicate and a projection over that frame.
    The production flow then anti-joins the corpus against
    corpus_id (drop or quarantine); at 100 TB the benchmark side is
    millions of rows against the corpus' billions, and the LSH
    banding already bounds the join to shared buckets."""
    m, r = _NDCONTAM_MOD, _NDCONTAM_RESIDUE
    v = verified_pairs(spark, sf_dir)
    a_is_bench = (F.col("doc_a") % m) == r
    b_is_bench = (F.col("doc_b") % m) == r
    return (
        v.filter(a_is_bench != b_is_bench)
        .select(
            F.when(a_is_bench, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("corpus_id"),
            F.when(a_is_bench, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("bench_id"),
            "inter_size",
            "union_size",
        )
        .orderBy("corpus_id", "bench_id")
    )


def _neardup_contam_oracle() -> str:
    m, r = _NDCONTAM_MOD, _NDCONTAM_RESIDUE
    return (
        "WITH "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + f"""
SELECT
  CASE WHEN doc_a % {m} = {r} THEN doc_b ELSE doc_a END AS corpus_id,
  CASE WHEN doc_a % {m} = {r} THEN doc_a ELSE doc_b END AS bench_id,
  inter_size, union_size
FROM verified
WHERE (doc_a % {m} = {r}) <> (doc_b % {m} = {r})
ORDER BY corpus_id, bench_id
"""
    )


register("decontaminate_neardup", decontaminate_neardup, _neardup_contam_oracle)


# ---------------------------------------------------------------------------
# duplicate-cluster representative selection
# ---------------------------------------------------------------------------


def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEEP decision that finishes the dedup pipeline —
    for every near-dup cluster with >= 2 members, the surviving
    document under the standard curation rule "keep the longest,
    break ties by lowest id" (length is the usual quality proxy when
    near-dups differ by truncation/chrome; min-id alone throws away
    the fullest copy).  Output: (cluster_id, size, kept_doc,
    kept_chars, n_dropped) — the audit table a curation run publishes
    next to the drop list.

    Shape: rides the once-per-session doc_clusters substrate; on top
    is ONE cluster-keyed ranking window over the (doc, cluster,
    n_chars) projection — bounded per cluster, embarrassingly
    parallel across clusters at any sf."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = doc_clusters(spark, sf_dir).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("size", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("size") >= 2))
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.col("size").cast("bigint").alias("size"),
            F.col("doc_id").alias("kept_doc"),
            F.col("n_chars").cast("bigint").alias("kept_chars"),
            (F.col("size") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _cluster_reps_oracle() -> str:
    return (
        "WITH RECURSIVE "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + ",\n"
        + sk.cc_ctes()
        + """,
labeled AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
    ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id ASC) AS rn,
    COUNT(*) OVER (PARTITION BY cluster_id) AS csize
  FROM labeled
)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
  CAST(csize AS BIGINT) AS size,
  doc_id AS kept_doc,
  CAST(n_chars AS BIGINT) AS kept_chars,
  CAST(csize - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1 AND csize >= 2
ORDER BY cluster_id
"""
    )


register(
    "dedup_cluster_representatives",
    dedup_cluster_representatives,
    _cluster_reps_oracle,
)


# ---------------------------------------------------------------------------
# combined contamination report
# ---------------------------------------------------------------------------


def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document contamination VERDICT table — exact
    n-gram evidence and near-dup evidence against the SAME benchmark
    set (the doc_id % 20 == 0 slice `decontaminate_ngrams` uses),
    merged into one row per flagged training document:
    (doc_id, n_shared_ngrams, n_neardup, verdict in
    exact|neardup|both).  This is the composition a curation run
    actually consumes — the stage-level queries prove each detector;
    this proves the MERGE of their outputs (full-outer semantics,
    zero-vs-null discipline), the integration surface stage-level
    oracles cannot see (the pipeline_training_corpus argument).

    Cost: the n-gram side is the broadcast semi-join detector, the
    near-dup side is a predicate over the memoized candidates→verify
    substrate, and the merge is a full outer join on doc_id between
    two already-small flagged sets."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    exact = tn.ngram_overlap(train, bench, "doc_id", "text").select(
        "doc_id", F.col("n_shared").alias("n_shared_ngrams")
    )
    v = verified_pairs(spark, sf_dir)
    a_is_bench = (F.col("doc_a") % 20) == 0
    b_is_bench = (F.col("doc_b") % 20) == 0
    near = (
        v.filter(a_is_bench != b_is_bench)
        .select(
            F.when(a_is_bench, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "doc_id"
            )
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_neardup"))
    )
    return (
        exact.join(near, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("n_shared_ngrams", F.lit(0)).cast("bigint").alias(
                "n_shared_ngrams"
            ),
            F.coalesce("n_neardup", F.lit(0)).cast("bigint").alias("n_neardup"),
            F.when(
                (F.coalesce("n_shared_ngrams", F.lit(0)) > 0)
                & (F.coalesce("n_neardup", F.lit(0)) > 0),
                "both",
            )
            .when(F.coalesce("n_neardup", F.lit(0)) > 0, "neardup")
            .otherwise("exact")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def _decontam_report_oracle() -> str:
    return (
        "WITH "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + """,
gtoks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS ng
  FROM gtoks
), gbench AS (
  SELECT DISTINCT ng FROM grams WHERE doc_id % 20 = 0
), exact AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
  FROM grams JOIN gbench USING (ng)
  WHERE doc_id % 20 <> 0
  GROUP BY doc_id
), near AS (
  SELECT CASE WHEN doc_a % 20 = 0 THEN doc_b ELSE doc_a END AS doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_neardup
  FROM verified
  WHERE (doc_a % 20 = 0) <> (doc_b % 20 = 0)
  GROUP BY 1
)
SELECT COALESCE(e.doc_id, n.doc_id) AS doc_id,
  COALESCE(e.n_shared_ngrams, 0) AS n_shared_ngrams,
  COALESCE(n.n_neardup, 0) AS n_neardup,
  CASE WHEN COALESCE(e.n_shared_ngrams, 0) > 0
        AND COALESCE(n.n_neardup, 0) > 0 THEN 'both'
       WHEN COALESCE(n.n_neardup, 0) > 0 THEN 'neardup'
       ELSE 'exact' END AS verdict
FROM exact e FULL OUTER JOIN near n ON e.doc_id = n.doc_id
ORDER BY doc_id
"""
    )


register("decontaminate_report", decontaminate_report, _decontam_report_oracle)


# ---------------------------------------------------------------------------
# near-dup provenance — within-source vs cross-source census
# ---------------------------------------------------------------------------


def dedup_pair_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the duplication comes from — every verified
    near-dup pair (the memoized LSH→exact-Jaccard substrate) labeled
    with its two documents' sources and counted per normalized
    (src_lo, src_hi) cell.  Within-source mass means crawl re-visits /
    templated content inside one feed (fix the crawler); cross-source
    mass means mirror sites or syndication (fix the source list) — the
    first question a curation review asks of any dedup report, and a
    different axis than ``dedup_cluster_sizes`` (how big) or
    ``decontaminate_report`` (is it benchmark leakage).

    Shape: pure marginal on the once-per-session verified-pairs
    checkpoint — the corpus-scale work is already paid.  The pair
    frame is duplication-sized (tiny relative to the corpus), so BOTH
    source-attachment joins broadcast the pair side and stream the
    documents scan; the census aggregate runs on sources² cells at
    most.  No new corpus shuffle anywhere."""
    pairs = verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    wa = src.join(
        F.broadcast(pairs), F.col("doc_id") == F.col("doc_a")
    ).select("doc_a", "doc_b", F.col("source").alias("_sa"))
    wb = src.join(
        F.broadcast(wa), F.col("doc_id") == F.col("doc_b")
    ).select("_sa", F.col("source").alias("_sb"))
    return (
        wb.select(
            F.least("_sa", "_sb").alias("src_lo"),
            F.greatest("_sa", "_sb").alias("src_hi"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "src_lo",
            "src_hi",
            F.when(F.col("src_lo") == F.col("src_hi"), F.lit("within"))
            .otherwise(F.lit("cross"))
            .alias("relation"),
            "n_pairs",
        )
        .orderBy("src_lo", "src_hi")
    )


def _pair_provenance_oracle() -> str:
    return (
        "WITH "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + """
, prov AS (
  SELECT least(da.source, db.source) AS src_lo,
         greatest(da.source, db.source) AS src_hi
  FROM verified v
  JOIN documents da ON da.doc_id = v.doc_a
  JOIN documents db ON db.doc_id = v.doc_b
)
SELECT src_lo, src_hi,
  CASE WHEN src_lo = src_hi THEN 'within' ELSE 'cross' END AS relation,
  count(*)::BIGINT AS n_pairs
FROM prov GROUP BY 1, 2 ORDER BY src_lo, src_hi"""
    )


register("dedup_pair_provenance", dedup_pair_provenance, _pair_provenance_oracle)


# ---------------------------------------------------------------------------
# dedup savings census
# ---------------------------------------------------------------------------


def dedup_savings_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline number every dedup proposal leads with —
    per source, how many documents and how much character mass
    DISAPPEARS if each near-dup cluster keeps only its ``dedup_cluster_representatives``
    representative (longest, ties to min id).  ``savings_bp`` is the
    droppable share of the source's char inventory; a source with
    thousands of bp here pays for its own dedup pass, one near zero
    doesn't — the prioritization table for rolling the pipeline out
    corpus by corpus.

    Shape: rides the once-per-session doc_clusters substrate exactly
    like ``dedup_cluster_representatives`` (one cluster-keyed ranking window), then two
    source-keyed aggregates (dropped mass, total inventory) merged by
    a sources-sized left join.  Nothing new touches the corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    labeled = doc_clusters(spark, sf_dir).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    dropped = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("dropped_docs"),
            F.sum("n_chars").alias("dropped_chars"),
        )
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return (
        tot.join(F.broadcast(dropped), "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce(F.col("dropped_docs"), F.lit(0))
            .cast("bigint")
            .alias("dropped_docs"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
            F.coalesce(F.col("dropped_chars"), F.lit(0))
            .cast("bigint")
            .alias("dropped_chars"),
            F.expr("coalesce(dropped_chars, 0) * 10000 div total_chars")
            .cast("bigint")
            .alias("savings_bp"),
        )
        .orderBy("source")
    )


def _savings_census_oracle() -> str:
    return (
        "WITH RECURSIVE "
        + sk.minhash_cand_ctes()
        + ",\n"
        + sk.jaccard_verify_ctes()
        + ",\n"
        + sk.cc_ctes()
        + """,
ranked AS (
  SELECT d.doc_id, d.source, d.n_chars,
    ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_id, d.doc_id)
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id
),
dropped AS (
  SELECT source, count(*)::BIGINT AS dropped_docs,
         sum(n_chars)::BIGINT AS dropped_chars
  FROM ranked WHERE rn > 1 GROUP BY source
),
tot AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(n_chars)::BIGINT AS total_chars
  FROM documents GROUP BY source
)
SELECT t.source, t.n_docs,
  coalesce(d.dropped_docs, 0)::BIGINT AS dropped_docs,
  t.total_chars,
  coalesce(d.dropped_chars, 0)::BIGINT AS dropped_chars,
  CAST(coalesce(d.dropped_chars, 0) * 10000 // t.total_chars AS BIGINT)
    AS savings_bp
FROM tot t LEFT JOIN dropped d USING (source) ORDER BY source
"""
    )


register("dedup_savings_census", dedup_savings_census, _savings_census_oracle)


# --------------------------------------------------------------- containment

def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-verified near-dup pairs — keep
    (a, b) when the smaller shingle set is ≥90% inside the other.
    Shares the materialized LSH candidate frame with
    dedup_verified_pairs / dedup_clusters (lsh_candidates):
    one candidate generation feeds all three verify consumers, exactly
    like a production DAG's shared stage."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    cands = lsh_candidates(spark, sf_dir)
    return dd.containment_verify(cands, docs, "doc_id", "text")


def _containment_oracle() -> str:
    return sk.containment_pairs_oracle()


register("dedup_containment", dedup_containment, _containment_oracle)


# --------------------------------------------------- cluster-size report

def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-cluster SIZE HISTOGRAM —
    (cluster_size, number of clusters that size, docs covered). The
    number a corpus owner actually reads after a dedup run ("how much
    of my corpus is 2x-duplicated vs 100x boilerplate?"). Reuses the
    ONE materialized clusters frame (doc_clusters) — the
    connected-components propagation does not re-run for the report."""
    cl = doc_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


def _cluster_sizes_oracle() -> str:
    inner = sk.dedup_clusters_oracle()
    return f"""
WITH clusters AS ({inner}),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY cluster_id
)
SELECT cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
"""


register("dedup_cluster_sizes", dedup_cluster_sizes, _cluster_sizes_oracle)


# ---------------------------------------------------------------------------
# prefix-filtered exact set-similarity join (PPJoin-lite)
# ---------------------------------------------------------------------------

_PP_NUM, _PP_DEN = 2, 5  # Jaccard threshold t = 2/5


def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-bigram Jaccard ≥ 2/5 pairs over the FULL corpus
    via prefix filtering (Chaudhuri/Bayardo/Xiao's PPJoin family) —
    the third leg of the set-similarity triad beside the quadratic
    baseline (dedup_ngram_jaccard, slice-caged) and the probabilistic
    scale path (dedup_minhash_lsh, ~0.998 recall).  Prefix filtering
    is exact-AND-sub-quadratic on Zipfian data: order every doc's
    shingles by ascending document frequency (rarest first, ties by
    shingle), keep only the first |x| − ⌈t·|x|⌉ + 1 as the PREFIX;
    J(x,y) ≥ t implies the prefixes intersect (pigeonhole: skipping
    ⌈t·|x|⌉ − 1 elements cannot clear a ≥ t/(1+t)·(|x|+|y|)-sized
    overlap), so the candidate join runs on prefix postings only,
    plus the length filter t·|y| ≤ |x| ≤ |y|/t.  Verification then
    counts full intersections for candidates alone.

    Honesty note (measured, sf0.01): this synthetic corpus draws
    ~50-word docs from a ~30-word vocabulary, so bigram postings are
    DENSE — 104k of 125k pairs share a shingle and the prefix+length
    filters cut candidates only to ~83k.  Real corpora are Zipfian
    (most shingles near-unique) and the same plan prunes >99%.  Like
    the other exact baselines, this query is therefore registered +
    oracled but NOT benched at sf0.1; the benched scale path for this
    corpus stays LSH.  Oracle = the straight quadratic form, so the
    driver row proves the filter chain loses nothing."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams, tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(token_ngrams(tokens(F.col("text")), 2))).alias(
            "sh"
        ),
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc")
    ordered = (
        sh.join(dfreq, "sh")
        .withColumn("sz", F.count(F.lit(1)).over(w_doc))
        .withColumn(
            "rn", F.row_number().over(w_doc.orderBy("df", "sh"))
        )
    )
    # prefix length |x| - ceil(t*|x|) + 1, ceil via integer arithmetic
    pref = ordered.filter(
        F.col("rn")
        <= F.col("sz") - F.expr(f"({_PP_NUM} * sz + {_PP_DEN} - 1) div {_PP_DEN}") + 1
    ).select("doc", "sh", "sz")
    pa = pref.select(
        F.col("doc").alias("doc_a"), "sh", F.col("sz").alias("sz_a")
    )
    pb = pref.select(
        F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    cand = (
        pa.join(
            pb,
            (F.col("sh") == F.col("sh_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            # length filter: t·|y| ≤ |x| and t·|x| ≤ |y|
            & (F.col("sz_a") * _PP_DEN >= F.col("sz_b") * _PP_NUM)
            & (F.col("sz_b") * _PP_DEN >= F.col("sz_a") * _PP_NUM),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verify on candidates only: intersection via posting join
    sh_a = sh.select(F.col("doc").alias("doc_a"), "sh")
    sh_b = sh.select(F.col("doc").alias("_doc_b2"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sh_a, "doc_a")
        .join(
            sh_b,
            (F.col("doc_b") == F.col("_doc_b2")) & (F.col("sh") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .withColumn("union_size", F.col("sz_a") + F.col("sz_b") - F.col("inter_size"))
        .filter(
            F.col("inter_size") * _PP_DEN >= F.col("union_size") * _PP_NUM
        )
        .select("doc_a", "doc_b", "inter_size", "union_size")
        .orderBy("doc_a", "doc_b")
    )


register(
    "dedup_prefix_filter_pairs",
    dedup_prefix_filter_pairs,
    f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
shingled AS (
  SELECT DISTINCT doc_id AS doc, t[i] || ' ' || t[i+1] AS sh
  FROM toks, UNNEST(range(1, len(t))) AS r(i)
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM shingled GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS i
  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(i AS BIGINT) AS inter_size,
  CAST(sa.sz + sb.sz - i AS BIGINT) AS union_size
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE i * {_PP_DEN} >= (sa.sz + sb.sz - i) * {_PP_NUM}
ORDER BY doc_a, doc_b
""",
    bounded=True,
)


# ---------------------------------------------------------------------------
# LSH quality measured as a catalog query
# ---------------------------------------------------------------------------

# absolute cap on the ground-truth slice: the quadratic exact-Jaccard
# audit term is O(cap²) regardless of corpus size. 1000 reproduces
# the earlier modulus slice exactly at sf0.1
# (5000 docs, modulus 5) while staying fixed-size at any larger sf.
_LSH_Q_CAP = 1000


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the production MinHash-LSH
    candidate generator against exact-Jaccard ground truth, AS A
    QUERY — "measure, don't guess" promoted from offline tooling
    (tools/lsh_sweep.py) into the hash-verified catalog, so the
    0.998-recall claim the dedup docstrings cite is re-proven by the
    driver every run that covers it.  Ground truth = the quadratic
    token-set Jaccard ≥ 0.7 pairs on a deterministic hash slice whose
    SIZE is capped (≤ ~_LSH_Q_CAP docs: modulus = ceil(n_docs / cap),
    slice = doc_id % modulus == 0) — a fixed 1-in-5 slice would keep
    the quadratic truth term PROPORTIONAL to the corpus (10k docs →
    5·10⁷ pairs at sf0.1, 9.2 s; unbounded at 100 TB), while the absolute
    cap keeps the audit O(cap²) at ANY sf.  The modulus is a 1-row
    driver scalar off a parquet count (the q11 / decay-anchor
    pattern); candidates = the SAME (16, 4) banding as
    dedup_minhash_lsh on the same slice.  The one-row verdict is
    assembled from ONE full-outer join of the two pair sets (truth /
    candidates each computed once) and conditional-summing —
    never a 1-row cross join (the NLJ the audit bans).  All counts
    and bp integers."""
    from xero_api_etl_utilities_spark.operators import dedup as dd

    full = load_table(spark, sf_dir, "documents")
    n_docs = full.count()  # parquet-metadata count, not a data scan
    modulus = max(1, -(-n_docs // _LSH_Q_CAP))
    docs = full.filter(F.col("doc_id") % modulus == 0)
    truth = dd.jaccard_pairs(docs, "doc_id", "text").select("doc_a", "doc_b")
    # slice signatures = the memoized full-corpus sketch filtered by
    # the same id predicate (per-doc pure function — identical to
    # recomputing on the slice, with zero re-shingling)
    sigs = minhash_sigs(spark, sf_dir).filter(F.col("doc") % modulus == 0)
    cand = dd.minhash_lsh_candidates(
        sigs, bands=16, rows_per_band=4
    )
    # One full-outer join on the pair key instead of the tagged union
    # + left-semi probe (guide §2.4: Spark has no cross-branch CSE, so
    # the union form instantiated the quadratic truth subtree AND the
    # banding subtree TWICE each — once for its count leg, once inside
    # the tp semi-join).  Both frames are pair-distinct by construction
    # (jaccard_pairs ends in a (doc_a, doc_b) groupBy;
    # minhash_lsh_candidates ends in .distinct()), so the outer join
    # has exactly one row per pair in either set and the three sums
    # are the same integers the union produced.
    j = truth.withColumn("_t", F.lit(1)).join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    return j.agg(
        F.sum(F.coalesce(F.col("_t"), F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce(F.col("_c"), F.lit(0))).cast("long").alias("n_cand"),
        F.sum(
            F.coalesce(F.col("_t"), F.lit(0)) * F.coalesce(F.col("_c"), F.lit(0))
        )
        .cast("long")
        .alias("true_positives"),
    ).select(
        "n_truth",
        "n_cand",
        "true_positives",
        F.expr("10000 * true_positives div n_truth").alias("recall_bp"),
        F.expr("10000 * true_positives div n_cand").alias("precision_bp"),
    )


def _lsh_quality_oracle() -> str:
    import duckdb

    # same capped slice as the query: modulus from the parquet the
    # driver's gate runs against (the IVF-centroid oracle pattern)
    sf_dir = oracle_sf_dir()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    modulus = max(1, -(-n_docs // _LSH_Q_CAP))

    return f"""
WITH sliced AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {modulus} = 0
),
{minhash_cand_ctes("sliced")},
ttoks AS (
  SELECT DISTINCT doc_id AS doc, t.sh AS sh
  FROM sliced, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(sh)
),
tsizes AS (SELECT doc, COUNT(*) AS sz FROM ttoks GROUP BY doc),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter_size
    FROM ttoks a JOIN ttoks b ON a.sh = b.sh AND a.doc < b.doc
    GROUP BY 1, 2
  ) i
  JOIN tsizes sa ON sa.doc = i.doc_a
  JOIN tsizes sb ON sb.doc = i.doc_b
  WHERE 10 * inter_size >= 7 * (sa.sz + sb.sz - inter_size)
),
tall AS (
  SELECT 'truth' AS k FROM truth
  UNION ALL SELECT 'cand' FROM cand
  UNION ALL SELECT 'tp' FROM truth t
    WHERE EXISTS (SELECT 1 FROM cand c
                  WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
)
SELECT
  CAST(SUM(CASE WHEN k = 'truth' THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
  CAST(SUM(CASE WHEN k = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
  CAST(SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS true_positives,
  CAST((10000 * SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END))
    // SUM(CASE WHEN k = 'truth' THEN 1 ELSE 0 END) AS BIGINT) AS recall_bp,
  CAST((10000 * SUM(CASE WHEN k = 'tp' THEN 1 ELSE 0 END))
    // SUM(CASE WHEN k = 'cand' THEN 1 ELSE 0 END) AS BIGINT) AS precision_bp
FROM tall
"""


register("dedup_lsh_quality", dedup_lsh_quality, _lsh_quality_oracle)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via embedding clusters
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.4  # see margin note in the docstring


def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the
    embedding-space member of the dedup family: k-means-cluster the
    corpus embeddings, then drop, WITHIN each cluster only, every
    vector that has a lower-id neighbor with cosine >= tau.  MinHash
    catches lexical near-dups; this catches semantic ones (same
    content, different words) that no shingle method can see.

    Lowering: centroids are the SAME driver-trained k-means as IVF
    (operators/ivf.py:79 — bounded ordered sample, deterministic),
    cell assignment the same inlined-literal column math as
    ``cluster_assign``; the pair join is an equi-join ON THE CELL, so
    it is quadratic only within one cluster — the SemDeDup shape, and
    the reason the paper clusters first (all-pairs over the corpus is
    the thing being avoided).  The drop rule "exists a lower-id
    neighbor above tau" is deterministic and engine-replayable —
    order-free, unlike the paper's greedy sweep over an arbitrary
    iteration order.  Output is the per-cluster census (cell,
    n_vectors, n_dropped, n_kept), integer-only.

    tau margin (the dedup_embedding_cosine contract): at 0.4 the
    nearest within-cell pair sits >= 1e-5 away on every test sf
    (measured: 9.9e-6 at sf0.1, 2.4e-3 at sf0.01), ~10^8 x the
    cross-engine double-summation drift of a 64-dim dot, so the pair
    SET is engine-stable even though raw floats are not.

    100 TB: k grows with the corpus (k ~ n / target_cell_size — the
    paper uses 50k clusters for LAION) so cells stay bounded and the
    within-cell join never degenerates; centroid training stays a
    bounded driver sample (the FAISS recipe), assignment stays
    embarrassingly parallel column math."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb)
    cellv = ivf.assign_cells(emb, cents, "embedding", 1).select(
        "vec_id", "embedding", F.col("cell").cast("int").alias("cell")
    )
    # pre-normalize once per ROW, in its own projection (the
    # dedup_embedding_cosine lowering: cosine inside the join filter
    # would re-fold both norms per PAIR, and lambda bodies are
    # invisible to Catalyst CSE)
    normed = cellv.select(
        "vec_id",
        "cell",
        F.greatest(_norm(F.col("embedding")), F.lit(1e-12)).alias("_nrm"),
        "embedding",
    )
    # Materialize the unit-vector assignment ONCE (guide §2.2): the
    # inlined-16-centroid argmax + normalize projection is the heavy
    # per-row math here, and it feeds THREE plan branches (both sides
    # of the within-cell pair join plus the census groupBy below) —
    # Spark has no cross-branch CSE, so the un-materialized form
    # re-ran it 3x per query.  Values are unchanged; only how many
    # times they are computed.
    unit = materialize(
        normed.select(
            "vec_id",
            "cell",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") / F.col("_nrm")
            ).alias("u"),
        )
    )
    a = unit.select(
        F.col("cell").alias("ca"), F.col("vec_id").alias("id_a"), F.col("u").alias("ua")
    )
    b = unit.select(
        F.col("cell").alias("cb"), F.col("vec_id").alias("id_b"), F.col("u").alias("ub")
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b")))
        .filter(_dot(F.col("ua"), F.col("ub")) >= _SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        unit.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce(F.col("_dropped"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
        .select(
            "cell",
            "n_vectors",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy("cell")
    )


def _semdedup_oracle() -> str:
    import os

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cellv AS (
  SELECT vec_id, v,
    CAST((list_transform(list_reverse(list_sort([{structs}])),
          s -> s.cell))[1] AS INT) AS cell
  FROM e
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cellv a JOIN cellv b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {_SEMDEDUP_TAU}
)
SELECT c.cell,
  CAST(COUNT(*) AS BIGINT) AS n_vectors,
  CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
  CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
FROM cellv c LEFT JOIN dropped d ON d.vec_id = c.vec_id
GROUP BY c.cell
ORDER BY c.cell
"""


register("dedup_semantic_clusters", dedup_semantic_clusters, _semdedup_oracle)


# ---------------------------------------------------------------------------
# contamination DEPTH — longest contiguous benchmark run per doc
# ---------------------------------------------------------------------------


def decontaminate_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination DEPTH — ``decontaminate_ngrams``
    counts how many distinct benchmark trigrams a training doc
    shares; this measures how LONG the verbatim overlap runs: the
    longest contiguous run of contaminated trigram positions per doc
    (a run of L consecutive trigram starts covers L+2 tokens).  A doc
    sharing 30 scattered trigrams is phrase-level echo; a doc with a
    30-gram contiguous run contains the benchmark item verbatim — the
    distinction every decontamination policy (Lee et al. 2022; GPT-3
    appendix) actually acts on.  Same split convention as
    ``decontaminate_ngrams``: every
    20th doc plays the benchmark.

    Lowering: benchmark trigrams broadcast (benchmark-sized — eval
    sets are small at any corpus scale); the corpus side semi-joins
    its positional trigrams (8-byte-ish strings here; the hash form
    of ``text_dup_span_coverage`` applies verbatim if vocab explodes) and the
    run length is
    the classic gaps-and-islands: group = pos − row_number() over a
    DOC-partitioned window, one aggregate per island, one per doc.
    Nothing global; doc-bounded windows only."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    wdocs = docs.select("doc_id", toks.alias("_t"))
    grams = wdocs.select(
        "doc_id", F.posexplode(token_ngrams(F.col("_t"), 3)).alias("pos", "ng")
    )
    bench = (
        grams.filter(F.col("doc_id") % 20 == 0).select("ng").distinct()
    )
    hits = grams.filter(F.col("doc_id") % 20 != 0).join(
        F.broadcast(bench), "ng", "left_semi"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("_len").cast("bigint").alias("n_hit_positions"),
            F.max("_len").cast("bigint").alias("longest_run_ngrams"),
            (F.max("_len") + 2).cast("bigint").alias("longest_run_tokens"),
        )
        .orderBy("doc_id")
    )


register(
    "decontaminate_longest_run",
    decontaminate_longest_run,
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ng
  FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
), bench AS (
  SELECT DISTINCT ng FROM grams WHERE doc_id % 20 = 0
), hits AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN bench USING (ng)
  WHERE g.doc_id % 20 <> 0
), runs AS (
  SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
), islands AS (
  SELECT doc_id, grp, count(*) AS len FROM runs GROUP BY 1, 2
)
SELECT doc_id,
  CAST(sum(len) AS BIGINT) AS n_hit_positions,
  CAST(max(len) AS BIGINT) AS longest_run_ngrams,
  CAST(max(len) + 2 AS BIGINT) AS longest_run_tokens
FROM islands GROUP BY doc_id ORDER BY doc_id
""",
)


# ---------------------------------------------------------------------------
# MinHash estimator calibration census
# ---------------------------------------------------------------------------


def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the 64-hash MinHash Jaccard ESTIMATOR on
    this corpus?  For every LSH candidate pair: the estimate
    (matching signature slots / 64, in bp) vs the EXACT shingle
    Jaccard, censused by exact-similarity decile — mean absolute
    error and signed bias per decile.  ``dedup_lsh_quality`` grades
    the BANDING (recall/precision of candidate generation);
    this grades the SKETCH itself — the number that tells you whether
    64 hashes is enough before you trust estimate-ranked pruning, and
    the standard-error sanity check (sqrt(J(1-J)/64) ~ 600 bp at
    J=0.5) the datasheet quotes.

    Lowering: a calibration census needs a SAMPLE, not the universe —
    at 100 TB you never exact-verify every candidate pair for a
    diagnostic — so the pairs are a deterministic 1/8 hash slice
    (``h32(doc_a:doc_b) % 8 == 0``, the ``dedup_lsh_quality``
    truth-slice rule; the oracle replays the identical slice) of the
    memoized recall-tuned candidate frame (lsh_candidates
    — built once per session).  Signatures join back doc-keyed
    (doc-grain 64-int rows, 256 B/doc — the signature frame joins on
    ids, never text); the match count is 64 in-row CASE terms; exact
    Jaccard is the shared ``jaccard_verify`` with the threshold
    floored to keep every sampled pair (zero-overlap band collisions
    drop identically on both engines — the verify join is
    shingle-inner by design).  Integer bp everywhere; signed bias
    uses truncate-toward-zero ``div`` (proven engine-identical)."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    cands = lsh_candidates(spark, sf_dir).filter(
        h32(F.concat_ws(":", F.col("doc_a"), F.col("doc_b"))) % 8 == 0
    )
    # the memoized once-per-session sketch — zero re-shingling
    sigs = minhash_sigs(spark, sf_dir)
    # selectExpr strings + one parsed 64-term sum (litfold
    # rationale): the Column-op loops built ~450 py4j nodes — ~0.8 s
    # of driver time per plan build
    sa = sigs.selectExpr(
        "doc AS doc_a", *[f"mh_{i} AS _a{i}" for i in range(64)]
    )
    sb = sigs.selectExpr(
        "doc AS doc_b", *[f"mh_{i} AS _b{i}" for i in range(64)]
    )
    match = F.expr(
        " + ".join(
            f"(CASE WHEN _a{i} = _b{i} THEN 1 ELSE 0 END)" for i in range(64)
        )
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", match.alias("_m"))
    )
    # cands is a narrow filter of the memoized compute-width
    # checkpoint: partitioning is inherited, and re-running the 1/8
    # hash-slice filter per consumer is cheaper than re-checkpointing
    exact = dd.jaccard_verify(
        cands, docs, "doc_id", "text", min_sim_num=0, min_sim_den=1
    ).filter(
        # zero-overlap band collisions: the array-set verify keeps
        # them, the oracle's shingle-inner-join form drops them —
        # exclude explicitly on BOTH engines (a pair with no shared
        # shingle says nothing about estimator calibration anyway)
        F.col("inter_size") > 0
    )
    scored = est.join(exact, ["doc_a", "doc_b"]).select(
        F.expr("_m * 10000 div 64").alias("est_bp"),
        F.expr("10000 * inter_size div union_size").alias("exact_bp"),
    )
    return (
        scored.groupBy(F.expr("exact_bp div 1000").cast("int").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.abs(F.col("est_bp") - F.col("exact_bp"))).alias("_ae"),
            F.sum(F.col("est_bp") - F.col("exact_bp")).alias("_se"),
        )
        .select(
            "decile",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.expr("_ae div n_pairs").cast("bigint").alias("mean_abs_err_bp"),
            F.expr("_se div n_pairs").cast("bigint").alias("mean_bias_bp"),
        )
        .orderBy("decile")
    )


def _minhash_calibration_oracle() -> str:
    chain = sk.minhash_cand_ctes()
    from xero_api_etl_utilities_spark.functions.crosshash import h32_sql

    terms = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(64)
    )
    return f"""
WITH {chain},
cand_s AS (
  SELECT doc_a, doc_b FROM cand
  WHERE {h32_sql("concat_ws(':', doc_a, doc_b)")} % 8 = 0
),
{sk.jaccard_verify_ctes(0, 1).replace('FROM cand c', 'FROM cand_s c')},
est AS (
  SELECT c.doc_a, c.doc_b, {terms} AS m
  FROM cand_s c
  JOIN sigs sa ON sa.doc = c.doc_a
  JOIN sigs sb ON sb.doc = c.doc_b
), scored AS (
  SELECT e.m * 10000 // 64 AS est_bp,
         10000 * v.inter_size // v.union_size AS exact_bp
  FROM est e JOIN verified v USING (doc_a, doc_b)
)
SELECT CAST(exact_bp // 1000 AS INT) AS decile,
  count(*)::BIGINT AS n_pairs,
  CAST(sum(abs(est_bp - exact_bp)) // count(*) AS BIGINT)
    AS mean_abs_err_bp,
  CAST(sum(est_bp - exact_bp) // count(*) AS BIGINT) AS mean_bias_bp
FROM scored GROUP BY 1 ORDER BY decile
"""


register(
    "dedup_minhash_calibration",
    dedup_minhash_calibration,
    _minhash_calibration_oracle,
)


def prune_stale_runs(path: str, sf_dir: str) -> None:
    """Retention for the per-run artifact isolation: before writing
    this run's artifact, delete sibling dirs for the SAME sf whose
    run suffix differs (prior gate/bench sessions).  Without this the
    applicationId suffix accumulates one full-corpus artifact per
    session, unbounded.  Other-sf siblings are kept —
    they are different datasets, not stale runs."""
    import os
    import shutil

    base = os.path.dirname(path)
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        full = os.path.join(base, d)
        if d.startswith(f"{sf_name}-") and full != path:
            shutil.rmtree(full, ignore_errors=True)


# ---------------------------------------------------------------------------
# benchmark decontamination — the EMIT step (cut verbatim runs)
# ---------------------------------------------------------------------------

_DECON_MIN_RUN = 3  # >= 3 contiguous trigram hits = >= 5 verbatim tokens


def decontaminate_span_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACT on contamination — where ``decontaminate_longest_run`` measures how long the
    verbatim benchmark overlap runs, this emits the decontaminated
    training corpus: per training doc, every contaminated trigram run
    of >= 3 contiguous positions (>= 5 verbatim tokens — the
    scattered-echo/verbatim threshold ``decontaminate_longest_run``'s census
    informs) becomes
    a removal interval, intervals union-merge per doc, and the kept
    text is rebuilt from the gap slices (``text_span_dedup_emit``'s machinery pointed at
    the benchmark instead of the corpus itself); runs of >= 3 trigram
    positions only, so phrase-level echo survives.  Same split
    convention as ``decontaminate_ngrams``/``decontaminate_longest_run``: every
    20th doc plays the benchmark and is
    EXCLUDED from the emitted corpus.

    Lowering: benchmark trigrams broadcast (eval sets stay small at
    any corpus scale); training trigrams semi-join them; islands via
    the doc-partitioned gaps-and-islands window; interval merge via
    the doc-partitioned coalesce sweep; rebuild in-row — nothing
    global, text never shuffles past the doc grain."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    wdocs = docs.filter(F.col("doc_id") % 20 != 0).select(
        "doc_id", "source", toks.alias("_w")
    )
    bench = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(F.explode(token_ngrams(toks, 3)).alias("ng"))
        .distinct()
    )
    grams = wdocs.select(
        "doc_id", F.posexplode(token_ngrams(F.col("_w"), 3)).alias("pos", "ng")
    )
    hits = grams.join(F.broadcast(bench), "ng", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    removal = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + 2).alias("e"),
            F.count(F.lit(1)).alias("_len"),
        )
        .filter(F.col("_len") >= _DECON_MIN_RUN)
        .select("doc_id", "s", "e")
    )
    # union-merge per doc (adjacent islands' token intervals can
    # overlap: a 1-2 position gap still bridges via the +2 token tail)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = removal.withColumn(
        "_b",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn("_sid", F.sum("_b").over(w_run))
    merged = flagged.groupBy("doc_id", "_sid").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_ivs"),
        F.count(F.lit(1)).alias("_nruns"),
    )
    out = wdocs.join(ivs, "doc_id", "left").withColumn(
        "_iv2",
        F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    gaps = F.concat(
        F.transform(
            F.col("_iv2"),
            lambda iv, i: F.struct(
                F.when(i == F.lit(0), F.lit(0))
                .otherwise(F.element_at(F.col("_iv2"), i)["e"] + 1)
                .alias("gs"),
                (iv["s"] - 1).alias("ge"),
            ),
        ),
        F.array(
            F.struct(
                F.when(F.size("_iv2") == 0, F.lit(0))
                .otherwise(F.element_at(F.col("_iv2"), -1)["e"] + 1)
                .alias("gs"),
                (F.size("_w") - 1).alias("ge"),
            )
        ),
    )
    kept = F.flatten(
        F.transform(
            F.filter(gaps, lambda g: g["ge"] >= g["gs"]),
            lambda g: F.slice(F.col("_w"), g["gs"] + 1, g["ge"] - g["gs"] + 1),
        )
    )
    return (
        out.withColumn("_kept", kept)
        .withColumn(
            "_rem",
            F.aggregate(
                F.col("_iv2"),
                F.lit(0),
                lambda acc, iv: acc + (iv["e"] - iv["s"] + 1),
            ),
        )
        .select(
            "doc_id",
            "source",
            F.size("_w").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("_nruns"), F.lit(0))
            .cast("bigint")
            .alias("contaminated_runs"),
            F.col("_rem").cast("bigint").alias("removed_tokens"),
            F.size("_kept").cast("bigint").alias("kept_tokens"),
            F.array_join("_kept", " ").alias("kept_text"),
        )
        .orderBy("doc_id")
    )


_DECON_EMIT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
), train AS (
  SELECT * FROM toks WHERE doc_id % 20 <> 0
), grams AS (
  SELECT doc_id, i - 1 AS pos, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ng
  FROM train, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
), bench AS (
  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ng
  FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
  WHERE doc_id % 20 = 0
), hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN bench b USING (ng)
), isl AS (
  SELECT doc_id, pos,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
), removal AS (
  SELECT doc_id, min(pos) AS sp, max(pos) + 2 AS ep
  FROM isl GROUP BY doc_id, grp
  HAVING count(*) >= {_DECON_MIN_RUN}
), flagged AS (
  SELECT doc_id, sp, ep,
    CASE WHEN sp > coalesce(max(ep) OVER (PARTITION BY doc_id ORDER BY sp
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS b
  FROM removal
), sw AS (
  SELECT doc_id, sp, ep, sum(b) OVER (PARTITION BY doc_id ORDER BY sp
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), merged AS (
  SELECT doc_id, min(sp) AS sp, max(ep) AS ep FROM sw GROUP BY doc_id, sid
), removed_pos AS (
  SELECT m.doc_id, u.p FROM merged m, unnest(range(m.sp, m.ep + 1)) AS u(p)
), pos_all AS (
  SELECT doc_id, i - 1 AS p, t[i] AS tok
  FROM train, unnest(range(1, len(t) + 1)) AS u(i)
), keptagg AS (
  SELECT a.doc_id,
    count(*) FILTER (WHERE r.doc_id IS NULL) AS kept_tokens,
    coalesce(string_agg(a.tok, ' ' ORDER BY a.p)
             FILTER (WHERE r.doc_id IS NULL), '') AS kept_text
  FROM pos_all a
  LEFT JOIN removed_pos r ON a.doc_id = r.doc_id AND a.p = r.p
  GROUP BY a.doc_id
), remagg AS (
  SELECT doc_id, count(*) AS nruns, sum(ep - sp + 1) AS removed
  FROM merged GROUP BY doc_id
)
SELECT t.doc_id, t.source,
  len(t.t)::BIGINT AS n_tokens,
  coalesce(r.nruns, 0)::BIGINT AS contaminated_runs,
  coalesce(r.removed, 0)::BIGINT AS removed_tokens,
  coalesce(ka.kept_tokens, 0)::BIGINT AS kept_tokens,
  coalesce(ka.kept_text, '') AS kept_text
FROM train t
LEFT JOIN remagg r USING (doc_id)
LEFT JOIN keptagg ka USING (doc_id)
ORDER BY doc_id
"""

register(
    "decontaminate_span_emit", decontaminate_span_emit, _DECON_EMIT_ORACLE
)


# ---------------------------------------------------------------------------
# incremental near-dedup against the frozen corpus catalog
# ---------------------------------------------------------------------------

_INC_BANDS = 16
_INC_ROWS = 4
_INC_MAX_BUCKET = 500


def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs of the NEW batch (doc_id %% 5 == 4,
    the repo's arrivals convention) against the EXISTING corpus — the
    100 TB dedup operation that must NOT recompute the corpus side.

    Lowering: the memoized full-corpus signature substrate
    (minhash_sigs — at 100 TB, the materialized sketch
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
    # removal as ``dedup_catalog_persisted``


def _incremental_pairs_oracle() -> str:
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


_BANDS = 16
_ROWS = 4
_MAX_BUCKET = 500
HASH_P = 1_000_000_007


# ---------------------------------------------------------------------------
# the persisted band catalog (write once, dedup against the disk)
# ---------------------------------------------------------------------------


def catalog_dir(sf_dir: str, run_suffix: str) -> str:
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
    ``<run>/arrivals`` (``dedup_catalog_absorb``'s absorb payload).  Stale prior-session
    runs for the same sf are pruned (the ``pipeline_corpus_publish`` retention rule).

    100 TB shape: this IS the corpus store's dedup sidecar — ~16 rows
    × ~20 B per document, written by the same pass that materializes
    the MinHash signature column; every later crawl scans it instead
    of re-shingling the corpus.  Band-partitioning keeps each band's
    bucket join a directory-pruned read; a production store would
    additionally bucket each partition by ``bh`` so the probe join
    arrives pre-shuffled (sources/writer.write_bucketed_table)."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows
    from xero_api_etl_utilities_spark.sources.writer import write_partitioned

    path = catalog_dir(sf_dir, spark.sparkContext.applicationId)
    prune_stale_runs(path, sf_dir)
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
    """The candidate-generation subtree of ``dedup_catalog_persisted``, exposed
    so the plan
    pin in tests/test_wave14.py can assert — BEFORE the verify stage's
    localCheckpoint hides it behind a Scan ExistingRDD — that it reads
    ONLY the persisted parquet artifact (catalog + census) plus the
    memoized new-side sketch, and never the document text."""
    from xero_api_etl_utilities_spark.operators.dedup import band_rows

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
    # ``dedup_incremental_pairs``'s oracle verbatim: the disk-backed plan
    # claims to compute
    # exactly the full answer's new slice, so it is held to exactly
    # the same full-recompute standard.
    return _incremental_pairs_oracle()


register(
    "dedup_catalog_persisted",
    dedup_catalog_persisted,
    _catalog_persisted_oracle,
)


# ---------------------------------------------------------------------------
# catalog maintenance — absorb the admitted batch, prove ≡ rebuild
# ---------------------------------------------------------------------------


def dedup_catalog_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorb the admitted batch into the persisted catalog and
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
            F.sum(F.col("bh") % HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_absorb_oracle() -> str:
    return (
        "WITH "
        + sk.band_catalog_ctes()
        + f"""
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT bh) AS BIGINT) AS n_buckets,
  CAST(SUM(bh % {HASH_P}) AS BIGINT) AS bucket_hash_sum
FROM banded GROUP BY band ORDER BY band
"""
    )


register("dedup_catalog_absorb", dedup_catalog_absorb, _catalog_absorb_oracle)


# ---------------------------------------------------------------------------
# catalog expiry — tombstone deletes, prove ≡ rebuild on the remainder
# ---------------------------------------------------------------------------

_TOMBSTONE_MOD = 7  # doc_id % 7 == 3 plays the takedown list


def dedup_catalog_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expire a takedown list from the persisted catalog — the
    GDPR / right-to-be-forgotten operation a training-data store must
    support without re-shingling anything.  The tombstone set
    (doc_id % 7 == 3 plays the legal-hold list) broadcast-anti-joins
    the full persisted store (corpus ∪ arrivals partitions, both off
    parquet); the survivors are censused per band — row count,
    distinct documents, distinct buckets, bucket-hash checksum —
    against an oracle that REBUILDS the banding from the raw text of
    the shrunk corpus.  Equality proves
    expire(tombstones) ≡ rebuild(corpus ∖ tombstones): deletes are
    id-local in the sidecar, exactly like absorbs (``dedup_catalog_absorb``) are
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
            F.sum(F.col("bh") % HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_expire_oracle() -> str:
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
  CAST(SUM(bh % {HASH_P}) AS BIGINT) AS bucket_hash_sum
FROM banded GROUP BY band ORDER BY band
"""
    )


register("dedup_catalog_expire", dedup_catalog_expire, _catalog_expire_oracle)


# ---------------------------------------------------------------------------
# the absorbing store replay — batch-sequenced, disk-backed, oracled
# ---------------------------------------------------------------------------

# arrival classes: cls 0 = seed corpus, cls 1 = first crawl batch,
# cls 2 = second crawl batch.  cls 1 ∪ cls 2 == the ``dedup_incremental_pairs``
# arrival set
# (doc_id % 5 == 4 ⟺ doc_id % 10 ∈ {4, 9}), so ``dedup_store_asof`` is
# ``dedup_incremental_pairs``'s
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
    """Drive the ``dedup_catalog_absorb`` absorb loop in batch mode against a
    real on-disk store, once per session: seed ``catalog/part=corpus`` with
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

    path = os.path.join(
        os.path.dirname(catalog_dir(sf_dir, "x")),
        "..",
        "absorb_store",
        f"{os.path.basename(sf_dir.rstrip(os.sep))}"
        f"-{spark.sparkContext.applicationId}",
    )
    path = os.path.abspath(path)
    prune_stale_runs(path, sf_dir)
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
    """The growing-store dedup semantics as a driver-hash row —
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
# catalog compaction — the housekeeping op itself gets a hash gate
# ---------------------------------------------------------------------------

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
            F.sum(F.col("bh") % HASH_P).cast("bigint").alias("bucket_hash_sum"),
        )
        .orderBy("band")
    )


def _catalog_compact_oracle() -> str:
    # the absorb-vs-rebuild oracle verbatim: the replay store holds
    # band rows for EVERY document (corpus + both absorbed batches),
    # so the compacted census is held to the same full-rebuild
    # standard as the absorb census.
    return (
        "WITH "
        + sk.band_catalog_ctes()
        + f"""
SELECT band,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT bh) AS BIGINT) AS n_buckets,
  CAST(SUM(bh % {HASH_P}) AS BIGINT) AS bucket_hash_sum
FROM banded GROUP BY band ORDER BY band
"""
    )


register("dedup_catalog_compact", dedup_catalog_compact, _catalog_compact_oracle)
