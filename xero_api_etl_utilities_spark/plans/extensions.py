"""Extension operator catalog (SURVEY.md §2.12 / north-star mandate):
dedup, similarity search, text analysis over the documents/embeddings
tables.

Oracle notes:
- Jaccard similarities are emitted as exact integer (intersection,
  union) pairs — no float division in hashed columns.
- MinHash/SimHash/LSH/IVF queries hash with crosshash (md5-derived,
  DuckDB-reproducible), so every sketch query has a FULL algorithmic
  DuckDB twin (plans/sketch_oracles.py) — the oracle re-runs the whole
  algorithm in SQL, with coefficients / hyperplanes / centroids
  generated from the single shared source of truth.
- Cosine top-k emits (query_id, neighbor_id, rank) only: ranks are
  stable under the float-ulp differences between engines' summation
  order; the sim value itself is validated in unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import dedup as dd
from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.plans import sketch_oracles as sk
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# X1 — dedup
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 exact dedup: survivor = min doc_id per distinct text, dup
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
    """X1 scale path: MinHash(64) + LSH(16 bands × 4 rows) candidate
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
    (sketch_oracles).  Since r7 this query RETURNS the memoized
    candidate substrate (plans/corpus_ops.lsh_candidates — identical
    parameters) instead of rebuilding signatures+banding: the
    candidates→verify subtree was already computed once per session
    for the five verify-side consumers, and recomputing it here paid
    ~5 s per bench run for bit-identical output."""
    from xero_api_etl_utilities_spark.plans.corpus_ops import lsh_candidates

    return lsh_candidates(spark, sf_dir)


register("dedup_minhash_lsh", dedup_minhash_lsh, sk.minhash_lsh_oracle)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: 64-bit SimHash fingerprint per document (oracle re-runs the
    integer-exact bit algorithm; also pinned by a pure-python unit
    reference)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash64(docs, "doc_id", "text")


register("dedup_simhash", dedup_simhash, sk.simhash_oracle)


# --------------------------------------------------------------------------
# X2 — similarity search
# --------------------------------------------------------------------------

def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 baseline: exact brute-force cosine top-5 neighbors for a
    deterministic 20-vector query set against the full corpus. The
    query set broadcasts; the corpus never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_bruteforce(queries, emb, k=5)


# Shared by similarity_topk and similarity_topk_pandas (plans/corpus_ops.py):
# the two Spark variants implement the same contract, so one oracle serves both.
TOPK_EXACT_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.qv, c.embedding) AS s
  FROM q, embeddings c
  WHERE q.query_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

register("similarity_topk", similarity_topk, TOPK_EXACT_ORACLE, bounded=True)


def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: multi-table random-hyperplane LSH candidate
    generation then exact rank within candidates. Oracle re-runs the
    algorithm with the same inlined planes (margin-checked signs);
    recall vs similarity_topk is also unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_lsh(queries, emb, n_planes=4, n_tables=4)


register("similarity_topk_lsh", similarity_topk_lsh, sk.topk_lsh_oracle)


# --------------------------------------------------------------------------
# X3 — text analysis
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 quality scoring: token/char-class counts and integer-ratio
    quality gates per document."""
    docs = load_table(spark, sf_dir, "documents")
    flags = tx.quality_flags(F.col("text"))
    return docs.select(
        "doc_id",
        flags["n_tokens"].alias("n_tokens"),
        flags["n_stopwords"].alias("n_stopwords"),
        flags["n_chars"].alias("n_chars"),
        flags["n_punct"].alias("n_punct"),
        flags["n_space"].alias("n_space"),
        flags["len_ok"].alias("len_ok"),
        flags["punct_ok"].alias("punct_ok"),
        flags["stopword_ok"].alias("stopword_ok"),
    )


register(
    "text_quality",
    text_quality,
    """
WITH c AS (
  SELECT doc_id, text,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         t -> list_contains(['the','a','and','of','to','in','is','it','for','on'], t))) AS BIGINT) AS n_stopwords,
    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
    CAST(length(text) - length(regexp_replace(text, '[ \\t\\n]', '', 'g')) AS BIGINT) AS n_space
  FROM documents
)
SELECT doc_id, n_tokens, n_stopwords, n_chars, n_punct, n_space,
       n_chars >= 50 AS len_ok,
       100 * n_punct <= 20 * n_chars AS punct_ok,
       100 * n_stopwords >= 1 * greatest(n_tokens, 1) AS stopword_ok
FROM c
""",
)


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 language ID: marker-word heuristic, argmax hits with
    largest-code tie-break, 'und' when nothing matches."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", tx.lang_id(F.col("text")).alias("detected_lang"))


register(
    "text_lang_id",
    text_lang_id,
    """
WITH t AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(['der','und','die','das','ist'], x))) AS h_de,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS h_fr,
    len(list_filter(toks, x -> list_contains(['el','los','las','una','es'], x))) AS h_es
  FROM t
)
SELECT doc_id, lang,
  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
       WHEN h_en >= h_de THEN 'en'
       ELSE 'de' END AS detected_lang
FROM hits
""",
)


def diag_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X138: declared-vs-detected language CONFUSION census — the
    integration roll-up of the X3 lang-id heuristic against the
    corpus's own ``lang`` labels: one row per (declared, detected)
    cell with its count and its share of the declared language's docs
    in bp.  The diagonal is the labeler's agreement rate; a hot
    off-diagonal cell is either a metadata bug or a marker-list gap —
    the table that decides whether `lang` can be trusted for
    stratified sampling (the X123 split audit assumes it can).

    One scan, one (declared, detected) aggregate, one declared-grain
    broadcast total — integer bp throughout."""
    docs = load_table(spark, sf_dir, "documents")
    det = docs.select(
        F.col("lang").alias("declared"),
        tx.lang_id(F.col("text")).alias("detected"),
    )
    cell = det.groupBy("declared", "detected").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("declared").agg(F.sum("n_docs").alias("_t"))
    return (
        cell.join(F.broadcast(tot), "declared")
        .select(
            "declared",
            "detected",
            "n_docs",
            F.expr("n_docs * 10000 div _t").alias("share_bp"),
        )
        .orderBy("declared", "detected")
    )


register(
    "diag_langid_confusion",
    diag_langid_confusion,
    """
WITH t AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
), hits AS (
  SELECT doc_id, lang,
    len(list_filter(toks, x -> list_contains(['the','and','of','to','a'], x))) AS h_en,
    len(list_filter(toks, x -> list_contains(['der','und','die','das','ist'], x))) AS h_de,
    len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS h_fr,
    len(list_filter(toks, x -> list_contains(['el','los','las','una','es'], x))) AS h_es
  FROM t
), det AS (
  SELECT lang AS declared,
    CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
         WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
         WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
         WHEN h_en >= h_de THEN 'en'
         ELSE 'de' END AS detected
  FROM hits
), cell AS (
  SELECT declared, detected, count(*)::BIGINT AS n_docs
  FROM det GROUP BY 1, 2
), tot AS (
  SELECT declared, sum(n_docs)::BIGINT AS t FROM cell GROUP BY 1
)
SELECT c.declared, c.detected, c.n_docs,
  (c.n_docs * 10000 // t.t)::BIGINT AS share_bp
FROM cell c JOIN tot t ON c.declared = t.declared
ORDER BY c.declared, c.detected
""",
)


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 token counting: whitespace tokens + BPE-ish regex tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        tx.token_count(F.col("text")).alias("bpeish_tokens"),
    )


register(
    "text_token_counts",
    text_token_counts,
    """
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpeish_tokens
FROM documents
""",
)


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 fingerprinting: md5 content identity (the partial-overlap
    rolling-hash variant is dedup_simhash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))


register(
    "text_fingerprint",
    text_fingerprint,
    "SELECT doc_id, md5(text) AS fingerprint FROM documents",
)


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: embedding-cosine near-dup pairs (cosine >= 0.35) over a
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


def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path #2: IVF — driver-trained centroids (bounded
    ordered sample, deterministic), JVM-side cell assignment, equi-join
    candidate search. Oracle re-trains bit-identical centroids via the
    Sparkless twin and re-runs the search in SQL; recall is also
    unit-tested on clustered fixtures."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf(queries, emb, centroids, k=5, nprobe=4)


register("similarity_topk_ivf", similarity_topk_ivf, sk.topk_ivf_oracle)


def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius similarity search (FAISS range_search) — every
    corpus vector within cosine >= 0.30 of each probe, candidates
    from nprobe=4 IVF cells: the "give me ALL near matches" member of
    the similarity family (top-k answers a different question; dedup
    sweeps and recall-first retrieval want the radius form).  Pair
    SET engine-stable: tau margin measured >= 2.2e-5 at every sf,
    ~10^7 x the double-summation noise of a 64-dim dot.  Oracle
    re-trains bit-identical centroids and replays cells + cosine
    filter in SQL."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.range_search_ivf(queries, emb, centroids)


register("similarity_range_search", similarity_range_search, sk.range_search_ivf_oracle)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via 16-bit banding —
    completes the SimHash path from fingerprint to pair set (oracle
    re-runs fingerprint + banding + Hamming filter in SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dd.simhash64(docs, "doc_id", "text")
    return dd.simhash_near_dups(fps)


register("dedup_simhash_pairs", dedup_simhash_pairs, sk.simhash_pairs_oracle)


def cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster id per embedding (the corpus
    side of IVF indexing, exposed as a first-class clustering query —
    partitioning a 100 TB corpus into semantic shards is pure column
    math against inlined centroids, embarrassingly parallel)."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    return ivf.assign_cells(emb, centroids, "embedding", nprobe=1).select(
        "vec_id", F.col("cell").cast("int").alias("cell")
    )


register("cluster_assign", cluster_assign, sk.cluster_assign_oracle)


def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composite: the training-corpus cleaning pipeline as
    ONE lazy DataFrame DAG — quality gate → exact dedup (survivor =
    min doc_id per sha256 digest) → recall-tuned MinHash-LSH
    candidates → exact-Jaccard VERIFY → near-dup pruning (greedy:
    drop the larger id of each verified pair). Pruning on raw
    candidates would delete good documents — candidate precision is
    ~0.55 at this banding (tools/lsh_sweep.py). Every stage is the
    already-oracled operator; the composition is oracled end-to-end
    too (sketch_oracles.corpus_clean_oracle).

    Scale shape: filter is a scan predicate; exact dedup shuffles
    32-byte digests; candidates are the banded equi-join; verify is
    O(candidates × shingles) — no stage is all-pairs."""
    surv, near_dups = _pipeline_stages(spark, sf_dir)
    return surv.join(near_dups, "doc_id", "left_anti").select("doc_id", "lang")


# The quality-gated survivor frame + verified near-dup id set feed TWO
# catalog consumers (the cleaned corpus and the X128 funnel report) —
# built once per session so the report's marginal cost is one
# aggregate, not a second full LSH+verify run.
@session_memo("pipeline_stages")
def _pipeline_stages(spark: SparkSession, sf_dir: str):
    docs = load_table(spark, sf_dir, "documents")
    flags = tx.quality_flags(F.col("text"))
    q = docs.filter(flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"])
    surv_ids = (
        q.select("doc_id", F.sha2(F.col("text"), 256).alias("_h"))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # surv feeds two consumers (the pair restriction and the final
    # anti-join): materialize once instead of re-running the
    # quality gate + digest dedup per branch
    surv = materialize(q.join(surv_ids, "doc_id"))
    # Near-dup pruning = the FULL-CORPUS verified-pair substrate
    # (corpus_ops._verified_pairs — LSH candidates + exact-Jaccard
    # verify, built ONCE per session for the whole dedup family)
    # restricted to pairs whose both ends survived the quality
    # gate + exact dedup.  Re-running candidates+verify over survivor
    # signatures would be a second full LSH+verify per session for a
    # pair set that differs from the substrate's only through the
    # stop-bucket cap (a full-corpus bucket over the cap whose
    # survivor subset fits under it), and the substrate's is the
    # better rule anyway: the cap exists to bound degenerate buckets,
    # and a bucket degenerate pre-dedup stays excluded rather than
    # resurfacing post-dedup.  The oracle
    # (sketch_oracles.corpus_clean_oracle) replays this exact
    # composition, so the semantics stay hash-pinned.
    from xero_api_etl_utilities_spark.plans.corpus_ops import (
        _verified_pairs,
    )

    pairs = (
        _verified_pairs(spark, sf_dir)
        .join(
            surv.select(F.col("doc_id").alias("doc_a")),
            "doc_a",
            "left_semi",
        )
        .join(
            surv.select(F.col("doc_id").alias("doc_b")),
            "doc_b",
            "left_semi",
        )
    )
    near_dups = materialize(pairs.select(F.col("doc_b").alias("doc_id")).distinct())
    return surv, near_dups


register("pipeline_corpus_clean", pipeline_corpus_clean, sk.corpus_clean_oracle)


def pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: the curation FUNNEL — stage-by-stage document counts
    through the cleaning pipeline (raw -> quality gate -> exact dedup
    -> near-dup prune) with per-stage drop counts and drop rates in
    bp: the one-table summary every corpus datasheet opens with, and
    the integration check that the stages compose (each count is
    downstream of every previous stage's real operator, so a drift in
    any stage moves a number here — the feature_pit_scd2 argument at
    pipeline grain).

    Lowering: rides the SAME memoized survivor/near-dup frames as
    ``pipeline_corpus_clean`` (one LSH+verify per session, the
    corpus_ops substrate pattern), tags each raw document with its
    furthest-surviving stage via two presence-marker doc_id equi-joins
    + the quality predicate, and aggregates ONCE; the 4-row funnel is
    then shaped driver-side (the diag_data_contract precedent —
    bounded, dimension-sized).  Scale: one corpus scan beyond the
    memoized subtree, no windows, no collects of data rows."""
    docs = load_table(spark, sf_dir, "documents")
    surv, near_dups = _pipeline_stages(spark, sf_dir)
    flags = tx.quality_flags(F.col("text"))
    tagged = (
        docs.withColumn(
            "_q",
            (flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"]).cast(
                "int"
            ),
        )
        # presence markers via doc_id equi-joins — NOT broadcast: the
        # survivor set is corpus-sized at 100 TB (AQE picks broadcast
        # on its own when a side is actually small)
        .join(surv.select("doc_id", F.lit(1).alias("_s")), "doc_id", "left")
        .join(
            near_dups.select("doc_id", F.lit(1).alias("_d")), "doc_id", "left"
        )
    )
    row = tagged.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("_q").alias("n_q"),
        F.sum(F.coalesce(F.col("_s"), F.lit(0))).alias("n_exact"),
        F.sum(
            F.when(
                F.col("_s").isNotNull() & F.col("_d").isNull(), 1
            ).otherwise(0)
        ).alias("n_final"),
    ).collect()[0]
    funnel = [
        ("raw", int(row["n_raw"])),
        ("quality_gate", int(row["n_q"])),
        ("exact_dedup", int(row["n_exact"])),
        ("neardup_prune", int(row["n_final"])),
    ]
    out = []
    prev = None
    for i, (stage, n) in enumerate(funnel, start=1):
        dropped = 0 if prev is None else prev - n
        drop_bp = 0 if prev in (None, 0) else dropped * 10000 // prev
        out.append((i, stage, n, dropped, drop_bp))
        prev = n
    return spark.createDataFrame(
        out,
        "stage_no int, stage string, n_docs bigint,"
        " dropped bigint, drop_bp bigint",
    ).orderBy("stage_no")


def _curation_report_oracle() -> str:
    # full-corpus candidate chain + both-survivor restriction — the
    # Spark side's shared-substrate composition (see corpus_clean_oracle)
    chain = sk.minhash_cand_ctes()
    return f"""
WITH qdocs AS (
  SELECT doc_id, text, lang,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         t -> list_contains(['the','a','and','of','to','in','is','it','for','on'], t))) AS BIGINT) AS n_stopwords,
    CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
), q AS MATERIALIZED (
  SELECT doc_id, text, lang FROM qdocs
  WHERE n_chars >= 50
    AND 100 * n_punct <= 20 * n_chars
    AND 100 * n_stopwords >= 1 * greatest(n_tokens, 1)
), surv_ids AS (
  SELECT MIN(doc_id) AS doc_id FROM q GROUP BY sha256(text)
), surv AS MATERIALIZED (
  SELECT q.doc_id, q.text, q.lang FROM q JOIN surv_ids USING (doc_id)
), {chain},
{sk.jaccard_verify_ctes()},
survpairs AS (
  SELECT v.doc_b FROM verified v
  JOIN surv sa ON sa.doc_id = v.doc_a
  JOIN surv sb ON sb.doc_id = v.doc_b
), counts AS MATERIALIZED (
  SELECT (SELECT count(*) FROM documents) AS n_raw,
    (SELECT count(*) FROM q) AS n_q,
    (SELECT count(*) FROM surv) AS n_exact,
    (SELECT count(*) FROM surv s
      LEFT JOIN (SELECT DISTINCT doc_b FROM survpairs) d ON s.doc_id = d.doc_b
      WHERE d.doc_b IS NULL) AS n_final
), funnel AS (
  SELECT 1 AS stage_no, 'raw' AS stage, n_raw AS n_docs,
         CAST(0 AS BIGINT) AS dropped, CAST(0 AS BIGINT) AS drop_bp
  FROM counts
  UNION ALL SELECT 2, 'quality_gate', n_q, n_raw - n_q,
    (n_raw - n_q) * 10000 // n_raw FROM counts
  UNION ALL SELECT 3, 'exact_dedup', n_exact, n_q - n_exact,
    (n_q - n_exact) * 10000 // n_q FROM counts
  UNION ALL SELECT 4, 'neardup_prune', n_final, n_exact - n_final,
    (n_exact - n_final) * 10000 // n_exact FROM counts
)
SELECT CAST(stage_no AS INT) AS stage_no, stage,
  CAST(n_docs AS BIGINT) AS n_docs, CAST(dropped AS BIGINT) AS dropped,
  CAST(drop_bp AS BIGINT) AS drop_bp
FROM funnel ORDER BY stage_no
"""


register(
    "pipeline_curation_report", pipeline_curation_report, _curation_report_oracle
)


def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline staple: deterministic 1-in-4 systematic
    sample of the corpus, then stable 80/10/10 train/val/test split —
    both pure hash predicates (operators/sampling.py), reproducible on
    any engine/partitioning, pushed to the scan."""
    from xero_api_etl_utilities_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    sampled = sampling.systematic_sample(docs, "doc_id", num=1, den=4)
    return sampling.assign_split(sampled, "doc_id").select("doc_id", "lang", "split")


register(
    "sample_split_assign",
    sample_split_assign,
    """
WITH sampled AS (
  SELECT doc_id, lang,
    CAST(CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 100 AS sb
  FROM documents
  WHERE CAST(CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % 4 < 1
)
SELECT doc_id, lang,
  CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END AS split
FROM sampled
""",
)


# ---------------------------------------------------------------------------
# IVF cell-balance diagnostic
# ---------------------------------------------------------------------------


def similarity_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-health census — every corpus vector assigned
    to its nearest cell (the same driver-trained deterministic
    centroids the search queries use), counted per cell, INCLUDING
    empty cells.  A dead cell wastes a probe; a hot cell makes every
    query that probes it scan a corpus-sized list — the imbalance this
    table surfaces is exactly why FAISS tutorials say "re-train k or
    re-balance when max/mean load drifts".  ``share_bp`` is the cell's
    corpus share and ``load_x100`` its load factor vs perfect balance
    (100 = balanced), both cross-multiplied integers.

    Shape: assignment is the JVM-side in-row argmax projection
    (operators/ivf.assign_cells, centroids inlined as literals — no
    join), the census is one 16-cell aggregate, and the empty-cell
    completion joins against a 16-row range frame.  Corpus-linear, one
    tiny shuffle."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = ivf.train_centroids(emb)
    assigned = ivf.assign_cells(emb, centroids, nprobe=1)
    census = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    total = emb.select(F.count(F.lit(1)).alias("_tot"))
    cells = spark.range(16).select(F.col("id").cast("int").alias("cell"))
    return (
        cells.join(F.broadcast(census), "cell", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "cell",
            F.coalesce(F.col("n_vecs"), F.lit(0)).cast("bigint").alias("n_vecs"),
            F.expr("coalesce(n_vecs, 0) * 10000 div _tot")
            .cast("bigint")
            .alias("share_bp"),
            F.expr("coalesce(n_vecs, 0) * 100 * 16 div _tot")
            .cast("bigint")
            .alias("load_x100"),
        )
        .orderBy("cell")
    )


def _ivf_cell_balance_oracle() -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{structs}])), s -> s.cell)"
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), corpus AS (
  SELECT vec_id, ({cells})[1] AS cell FROM e
), census AS (
  SELECT cell, count(*)::BIGINT AS n_vecs FROM corpus GROUP BY cell
), tot AS (SELECT count(*)::BIGINT AS t FROM e)
SELECT CAST(r.range AS INT) AS cell,
  coalesce(c.n_vecs, 0)::BIGINT AS n_vecs,
  CAST(coalesce(c.n_vecs, 0) * 10000 // t AS BIGINT) AS share_bp,
  CAST(coalesce(c.n_vecs, 0) * 100 * 16 // t AS BIGINT) AS load_x100
FROM range(16) r LEFT JOIN census c ON c.cell = r.range
CROSS JOIN tot ORDER BY cell
"""


register(
    "similarity_ivf_cell_balance",
    similarity_ivf_cell_balance,
    _ivf_cell_balance_oracle,
)
