"""Corpus-hygiene catalog (north-star training-data-pipeline surface,
continued): normalization, PII masking, repetition measurement,
benchmark decontamination, context-window packing, and the
Arrow-batched exact-similarity twin.

Oracle notes:
- all regex patterns are RE2-safe and shared verbatim with the DuckDB
  twins (DuckDB gets the explicit 'g' flag — it replaces only the
  first match by default, Spark replaces all);
- repetition/packing outputs are pure integers (counts, window sums,
  integer division) — nothing float enters a hashed column;
- the NFC step runs through an Arrow-batched pandas UDF on the Spark
  side and ``nfc_normalize`` on the DuckDB side: both implement
  UAX#15, so composed output is bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.operators import packing as pk
from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.operators import similarity as sim
from xero_api_etl_utilities_spark.operators import textnorm as tn
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.extensions import TOPK_EXACT_ORACLE
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# normalization + masking
# --------------------------------------------------------------------------

def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: canonical text form (lowercase, control→space, whitespace
    collapse, trim) plus unicode NFC via the one deliberate pandas UDF
    in the engine (Spark has no NFC built-in). Per-row projection — no
    shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tn.normalize_text(F.col("text")).alias("norm_text"),
        tn.nfc(F.col("text")).alias("nfc_text"),
    )


register(
    "text_normalize",
    text_normalize,
    f"""
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text),
       '{tn.CONTROL_PATTERN}', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_text,
  nfc_normalize(text) AS nfc_text
FROM documents
""",
)


def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: PII redaction (emails → [EMAIL], ≥9-digit ids → [ID],
    phone-shaped runs → [PHONE]). The synthetic corpus carries no PII,
    so each document is deterministically decorated with a contact
    line derived from its id before masking — the masks must actually
    fire for the oracle hash to agree."""
    docs = load_table(spark, sf_dir, "documents")
    decorated = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1 (202) 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        (F.col("doc_id") + 100000000).cast("string"),
    )
    return docs.select("doc_id", tn.mask_pii(decorated).alias("masked"))


register(
    "text_pii_mask",
    text_pii_mask,
    f"""
WITH d AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.com or +1 (202) 555-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || ' ref ' || CAST(doc_id + 100000000 AS VARCHAR) AS decorated
  FROM documents
)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(decorated,
      '{tn.EMAIL_PATTERN}', '[EMAIL]', 'g'),
      '{tn.LONG_ID_PATTERN}', '[ID]', 'g'),
      '{tn.PHONE_PATTERN}', '[PHONE]', 'g') AS masked
FROM d
""",
)


# --------------------------------------------------------------------------
# repetition + decontamination
# --------------------------------------------------------------------------

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document bigram repetition stats — the standard
    boilerplate/low-quality signal. Higher-order array functions per
    row; integer outputs only."""
    docs = load_table(spark, sf_dir, "documents")
    st = tn.repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        st["n_ngrams"].alias("n_ngrams"),
        st["n_distinct"].alias("n_distinct"),
        st["max_repeat"].alias("max_repeat"),
        st["repetitive"].alias("repetitive"),
    )


register(
    "text_repetition",
    text_repetition,
    """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    list_transform(range(1, greatest(len(toks), 1)),
                   i -> toks[i] || ' ' || toks[i+1]) AS ng
  FROM t
), occ AS (
  SELECT doc_id, ng2, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(ng) AS ng2 FROM g) u
  GROUP BY doc_id, ng2
), per AS (
  SELECT doc_id,
    CAST(SUM(c) AS BIGINT) AS n_ngrams,
    CAST(COUNT(*) AS BIGINT) AS n_distinct,
    CAST(MAX(c) AS BIGINT) AS max_repeat
  FROM occ GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_ngrams, 0) AS n_ngrams,
  COALESCE(p.n_distinct, 0) AS n_distinct,
  COALESCE(p.max_repeat, 0) AS max_repeat,
  -- false AND unknown = false keeps zero-ngram docs at FALSE, not NULL
  COALESCE(p.n_ngrams, 0) > 0
    AND 10 * (p.n_ngrams - p.n_distinct) >= 3 * p.n_ngrams AS repetitive
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
""",
)


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
# context-window packing
# --------------------------------------------------------------------------

def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3b: sharded fixed-boundary context-window packing — BPE-ish
    token counts, 8 hash shards, 2048-token budget. One shuffle on
    the shard key; packing parallelizes across shards (a single
    global sequence would serialize a 100 TB corpus — see
    operators/packing.py)."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens")
    )
    return pk.pack_fixed_budget(
        with_tokens, "doc_id", "n_tokens", budget=2048,
        shard_col=F.col("doc_id") % 8,
    )


register(
    "doc_pack_chunks",
    doc_pack_chunks,
    """
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev_tokens
  FROM t
)
SELECT doc_id, shard, n_tokens, prev_tokens, prev_tokens // 2048 AS pack_id
FROM c
""",
)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rebalancing — the
    dominant language downsampled (en 1/2), mid languages kept (de,
    fr 1/1), the rest defaulted to 1/4. Pure hash predicate pushed to
    the scan; same content-hash determinism story as
    sample_split_assign."""
    from xero_api_etl_utilities_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs,
        "doc_id",
        "lang",
        rates={"en": (1, 2), "de": (1, 1), "fr": (1, 1)},
    ).select("doc_id", "lang")


def _strat_bucket_sql(den: int) -> str:
    return (
        "CAST(CAST('0x' || substr(md5('stratified|' || lang || '|' ||"
        f" CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) AS BIGINT) % {den}"
    )


register(
    "sample_stratified",
    sample_stratified,
    f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND {_strat_bucket_sql(2)} < 1)
   OR (lang = 'de' AND {_strat_bucket_sql(1)} < 1)
   OR (lang = 'fr' AND {_strat_bucket_sql(1)} < 1)
   OR (lang NOT IN ('en', 'de', 'fr') AND {_strat_bucket_sql(4)} < 1)
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
def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xero_api_etl_utilities_spark.operators import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    # the memoized candidate checkpoint already sits at compute width
    # (pair-keyed exchange in minhash_lsh_candidates)
    pairs = dd.jaccard_verify(
        lsh_candidates(spark, sf_dir), docs, "doc_id", "text"
    )
    return materialize(pairs)


def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: the full production near-dup pair flow — recall-tuned LSH
    candidates (0.998 measured recall at the 0.7 target,
    tools/lsh_sweep.py) then exact-Jaccard verification restricted to
    candidates (O(candidates × shingles), never all-pairs). This is
    what dedup_ngram_jaccard computes exactly on a small slice, now
    corpus-scale-shaped."""
    return _verified_pairs(spark, sf_dir)


def _verified_pairs_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
    """X1 completion: near-dup PAIRS → duplicate GROUPS. Connected
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
    pairs = _verified_pairs(spark, sf_dir)  # shared, materialized once
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("u1"), F.col("doc_b").alias("u2"))
    )
    return docs.join(comp, docs["doc_id"] == comp["doc"], "left").select(
        docs["doc_id"],
        F.coalesce(comp["cluster_id"], docs["doc_id"]).alias("cluster_id"),
    )


def _dedup_clusters_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return sk.dedup_clusters_oracle()


register("dedup_clusters", dedup_clusters, _dedup_clusters_oracle)


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 completion — LEAKAGE-SAFE train/val/test split: the split
    bucket hashes the near-dup CLUSTER id, not the document id, so
    every member of a duplicate component lands in the same split (a
    doc-keyed split puts near-identical twins on both sides of the
    train/test fence — benchmark contamination by construction).
    Reuses the once-per-session doc_clusters substrate; the split
    itself is a zero-shuffle projection on top (operators/sampling
    assign_split keyed by cluster_id)."""
    from xero_api_etl_utilities_spark.operators import sampling

    clusters = doc_clusters(spark, sf_dir)
    return sampling.assign_split(clusters, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


def _split_leakage_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return sk.split_leakage_safe_oracle()


register("split_leakage_safe", split_leakage_safe, _split_leakage_oracle)


# --------------------------------------------------------------------------
# Arrow-batched exact similarity twin
# --------------------------------------------------------------------------

def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact brute-force top-k again, but through the
    Arrow-batched numpy-matmul path (mapInPandas) — the
    high-dimensionality strategy, verified against the same oracle as
    the built-in-expression form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.topk_bruteforce_pandas(queries, emb)


register("similarity_topk_pandas", similarity_topk_pandas, TOPK_EXACT_ORACLE)


def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45: language-model-ish quality signal without a model — each
    document's NOVELTY against the corpus bigram vocabulary (bigrams
    with document frequency >= 3). High novelty = text whose word
    transitions the corpus has rarely seen: gibberish, boilerplate
    mangling, or genuinely rare content — the cheap distributed proxy
    for the KenLM-perplexity filter in C4/Gopher-style pipelines,
    with the perplexity's float log-sums replaced by an integer
    basis-point ratio (exact, hash-verifiable).

    Shape: vocab = one distinct-bigram aggregate (the reusable corpus
    artifact at scale — build once, broadcast to every scoring run);
    scoring = explode + broadcast left-join + per-doc counts. Bodies
    never shuffle; the shuffled unit is a bigram string. Tokenizer and
    n-gram builder are the lambda-free shared helpers
    (operators/dedup.py:tokens/token_ngrams — the zip_with form, see
    PLANS.md lambda-CSE finding)."""
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams, tokens
    from xero_api_etl_utilities_spark.operators.materialize import compute_width

    # The tokenize + bigram explode otherwise
    # runs on the single-task scan — and grams feeds BOTH the vocab
    # aggregate and the scoring join (no cross-branch CSE), so it is
    # also materialized once instead of tokenizing the corpus twice
    docs = compute_width(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    grams = materialize(
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(token_ngrams(tokens(F.col("text")), 2))
            ).alias("ng"),
        )
    )
    vocab = (
        grams.groupBy("ng")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 3)
        .select("ng", F.lit(True).alias("known"))
    )
    return (
        grams.join(F.broadcast(vocab), "ng", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unseen"),
        )
        .withColumn(
            "novelty_bp",
            F.expr("n_unseen * 10000 div n_bigrams").cast("bigint"),
        )
        .orderBy("doc_id")
    )


register(
    "text_bigram_novelty",
    text_bigram_novelty,
    """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), grams AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(range(1, greatest(len(toks), 1)),
        i -> toks[i] || ' ' || toks[i+1]))) AS ng
  FROM toks
), vocab AS (
  SELECT ng FROM grams GROUP BY ng HAVING COUNT(*) >= 3
)
SELECT g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(COUNT(*) FILTER (WHERE v.ng IS NULL) AS BIGINT) AS n_unseen,
  CAST((COUNT(*) FILTER (WHERE v.ng IS NULL)) * 10000 // COUNT(*) AS BIGINT)
    AS novelty_bp
FROM grams g LEFT JOIN vocab v USING (ng)
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)


def text_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55: inverted-index build — the top-20 terms by document
    frequency with their first-10 posting entries (doc ids, ascending)
    — i.e. the artifact a lexical search engine materializes from the
    corpus. Shape: one distinct (term, doc) projection, one groupBy
    per term; the posting array is sort_array(collect_list) SLICED to
    the head — at production scale posting lists are written sharded
    (term-bucketed files), but the head-slice form keeps this bounded
    per group while pinning the build's semantics. Integer/string
    exact throughout."""
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    td = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    )
    # posting_head is published as a comma-joined STRING, not a raw
    # array: the driver's pandas row-sorter cannot hash list cells
    # (TypeError: unhashable type — the driver reports "err"), and the
    # CSV form is still the exact posting head, digit for digit.
    return (
        td.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10).cast(
                    "array<string>"
                ),
                ",",
            ).alias("posting_head"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


register(
    "text_posting_lists",
    text_posting_lists,
    """
WITH td AS (
  SELECT DISTINCT doc_id,
    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
  array_to_string((list_sort(list(doc_id)))[1:10], ',') AS posting_head
FROM td
GROUP BY term
ORDER BY df DESC, term ASC
LIMIT 20
""",
)


_FH_DIM = 256


def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60: the hashing-trick vectorizer (Weinberger et al.) — each
    document's sparse bag-of-words feature vector over a FIXED
    2^8-dim space: index = H32('f:'||token) mod D, sign =
    parity of H32('s:'||token) (signed hashing cancels collision
    bias in expectation). Output is the sparse form — sorted
    (index, weight) structs — exactly what a downstream trainer
    ingests; no vocabulary pass, no vocab broadcast, unbounded
    vocabulary handled in ONE zero-join scan. Every weight is an
    integer; the oracle replays index, sign and weight digit-exactly.
    First 10 docs keep the result frame readable; the projection is
    corpus-wide identical per row."""
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    idx = (h32(F.concat(F.lit("f:"), F.col("t"))) % _FH_DIM).cast("int")
    sign = F.when(h32(F.concat(F.lit("s:"), F.col("t"))) % 2 == 0, 1).otherwise(-1)
    return (
        tok.select("doc_id", idx.alias("fidx"), sign.alias("sgn"))
        .groupBy("doc_id", "fidx")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("fidx"), F.col("weight")))
            ).alias("_f")
        )
        # parallel arrays (indices, weights) — the canonical sparse-vector
        # exchange format — published comma-joined as STRINGS: the
        # driver's pandas sorter cannot hash raw list cells (it reports
        # "err"), and the CSV form is digit-exact either way.
        .select(
            "doc_id",
            F.array_join(
                F.transform("_f", lambda x: x["fidx"]).cast("array<string>"), ","
            ).alias("indices"),
            F.array_join(
                F.transform("_f", lambda x: x["weight"]).cast("array<string>"), ","
            ).alias("weights"),
        )
        .orderBy("doc_id")
    )


def _hashing_features_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import h32_sql

    hf = h32_sql("'f:' || t")
    hs = h32_sql("'s:' || t")
    fi = f"CAST({hf} AS BIGINT) % {_FH_DIM}"
    sg = f"CASE WHEN CAST({hs} AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents WHERE doc_id < 10
),
weights AS (
  SELECT doc_id, CAST({fi} AS INT) AS fidx,
    CAST(SUM({sg}) AS BIGINT) AS weight
  FROM tok GROUP BY doc_id, {fi}
  HAVING SUM({sg}) <> 0
)
SELECT doc_id,
  array_to_string(
    list_transform(list_sort(list(struct_pack(fidx := fidx, weight := weight))),
                   x -> x.fidx), ',') AS indices,
  array_to_string(
    list_transform(list_sort(list(struct_pack(fidx := fidx, weight := weight))),
                   x -> x.weight), ',') AS weights
FROM weights GROUP BY doc_id ORDER BY doc_id
"""


register("text_hashing_features", text_hashing_features, _hashing_features_oracle)


def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 — the training-data pipeline END TO END as one verified
    DAG: near-dup clustering (the shared doc_clusters substrate:
    MinHash-LSH candidates → exact-Jaccard verify → connected
    components) → leakage-safe split hashed on the CLUSTER id →
    BPE-ish token census → per-split corpus card: documents,
    duplicate components, tokens, and 2048-token training chunks
    (per-doc ceil — the packer's budget arithmetic). This is the
    composition a user ships: every stage is an already-oracled
    operator AND the composition itself hash-checks end-to-end —
    integration errors between verified stages are exactly what
    stage-level oracles cannot see. Marginal cost is one broadcast
    join + a 3-row aggregate on top of the memoized substrate."""
    from xero_api_etl_utilities_spark.operators import textstats as tx2

    split = split_leakage_safe(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx2.token_count(F.col("text")).alias("n_tokens")
    )
    return (
        split.join(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("(n_tokens + 2047) div 2048"))
            .cast("bigint")
            .alias("n_chunks"),
        )
        .orderBy("split")
    )


def _training_corpus_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    split_sql = sk.split_leakage_safe_oracle()
    return f"""
WITH split AS ({split_sql}),
tok AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
  CAST(SUM((n_tokens + 2047) // 2048) AS BIGINT) AS n_chunks
FROM split JOIN tok USING (doc_id)
GROUP BY split
ORDER BY split
"""


register("pipeline_training_corpus", pipeline_training_corpus, _training_corpus_oracle)


def text_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70: characteristic terms per document — tf-idf's
    rank-only skeleton: per doc, the 3 terms with highest term
    frequency, ties broken toward RARER terms (lower document
    frequency) then lexically. Rank-based instead of score-based, so
    every column is an exact integer/string and the oracle hashes —
    the float tf·idf product would rank identically wherever the
    (tf, df) orders agree, and where they disagree the rank form is
    the documented tiebreak. First 20 docs keep the frame small; the
    plan (tf explode-agg + broadcast df + one per-doc window) is
    corpus-shape identical at any slice."""
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        terms.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(df), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
        )
        .orderBy("doc_id", "rank")
    )


register(
    "text_top_terms_per_doc",
    text_top_terms_per_doc,
    """
WITH terms AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
df AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
  FROM tf JOIN df USING (term)
  WHERE tf.doc_id < 20
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
""",
)


# ---------------------------------------------------------------------------
# X105: near-dup benchmark decontamination
# ---------------------------------------------------------------------------

_NDCONTAM_MOD, _NDCONTAM_RESIDUE = 13, 7


def decontaminate_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: benchmark contamination at the NEAR-DUP level — the gap
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
    v = _verified_pairs(spark, sf_dir)
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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
# X106: duplicate-cluster representative selection
# ---------------------------------------------------------------------------


def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: the KEEP decision that finishes the dedup pipeline —
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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
# X108: combined contamination report
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
    v = _verified_pairs(spark, sf_dir)
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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
# X112: near-dup provenance — within-source vs cross-source census
# ---------------------------------------------------------------------------


def dedup_pair_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: WHERE the duplication comes from — every verified
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
    pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
# X114: dedup savings census
# ---------------------------------------------------------------------------


def dedup_savings_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: the headline number every dedup proposal leads with —
    per source, how many documents and how much character mass
    DISAPPEARS if each near-dup cluster keeps only its X106
    representative (longest, ties to min id).  ``savings_bp`` is the
    droppable share of the source's char inventory; a source with
    thousands of bp here pays for its own dedup pass, one near zero
    doesn't — the prioritization table for rolling the pipeline out
    corpus by corpus.

    Shape: rides the once-per-session doc_clusters substrate exactly
    like X106 (one cluster-keyed ranking window), then two
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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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
