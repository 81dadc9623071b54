"""Training-data curation catalog queries: the ``sample_``, ``split_``,
``pipeline_``, ``corpus_``, ``doc_``, ``label_`` and ``quality_``
families.

Deterministic sampling and splitting, mixture and token-budget
planning, sequence packing, corpus composition censuses, the curation
pipeline end to end and its published corpus, and the model-swap gate.
No reference counterpart.  These queries compose the text, dedup and
retrieval substrates; every hashed value is an integer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators import packing as pk
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.plans import sketch_oracles as sk
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.plans.dedup_ops import (
    HASH_P,
    doc_clusters,
    minhash_sigs,
    prune_stale_runs,
    verified_pairs,
)
from xero_api_etl_utilities_spark.plans.retrieval_ops import probe_knn_shortlist
from xero_api_etl_utilities_spark.plans.sketch_oracles import minhash_cand_ctes
from xero_api_etl_utilities_spark.plans.text_ops import (
    drift_counted,
    drift_counted_ctes,
    span_dedup_emit_oracle,
    span_dedup_frame,
)
from xero_api_etl_utilities_spark.sources.parquet import load_table


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
# catalog consumers (the cleaned corpus and the ``pipeline_curation_report``
# funnel report) —
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
    # (dedup_ops.verified_pairs — LSH candidates + exact-Jaccard
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
    pairs = (
        verified_pairs(spark, sf_dir)
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
    """The curation FUNNEL — stage-by-stage document counts
    through the cleaning pipeline (raw -> quality gate -> exact dedup
    -> near-dup prune) with per-stage drop counts and drop rates in
    bp: the one-table summary every corpus datasheet opens with, and
    the integration check that the stages compose (each count is
    downstream of every previous stage's real operator, so a drift in
    any stage moves a number here — the feature_pit_scd2 argument at
    pipeline grain).

    Lowering: rides the SAME memoized survivor/near-dup frames as
    ``pipeline_corpus_clean`` (one LSH+verify per session, the
    dedup_ops substrate pattern), tags each raw document with its
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


# --------------------------------------------------------------------------
# context-window packing
# --------------------------------------------------------------------------

def doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded fixed-boundary context-window packing — BPE-ish
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


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the split
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
    return sk.split_leakage_safe_oracle()


register("split_leakage_safe", split_leakage_safe, _split_leakage_oracle)


def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline END TO END as one verified
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


# --------------------------------------------------------- per-group top-k

def sample_per_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 documents per source, chosen by
    salted content-hash ORDER (operators/sampling.per_group_topk) —
    the exact-quota counterpart of rate-based sampling, reproducible
    across engines/reruns/partitionings."""
    from xero_api_etl_utilities_spark.operators.sampling import per_group_topk

    docs = load_table(spark, sf_dir, "documents")
    return per_group_topk(docs, "doc_id", "source", k=20).select(
        "doc_id", "source", F.col("rk").cast("int").alias("rk")
    )


_TOPK_H = h32_sql("'grouptopk|' || source || '|' || CAST(doc_id AS VARCHAR)")

register(
    "sample_per_source_topk",
    sample_per_source_topk,
    f"""
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
  FROM (SELECT doc_id, source, CAST({_TOPK_H} AS BIGINT) AS h FROM documents) s
) q WHERE rk <= 20
""",
)


# ------------------------------------------------------- mixture rebalance

# the target recipe: src0 at 2% of corpus size, src1 at 1%, src2 held
# at its natural 5% (rate caps at 1 — the no-op edge), others dropped
_MIXTURE_PPM = {"src0": 20_000, "src1": 10_000, "src2": 50_000}


def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic downsampling toward a target
    source mixture; per-group keep-rates derived from the corpus
    census in integer ppm math (operators/sampling.mixture_rebalance).
    """
    from xero_api_etl_utilities_spark.operators.sampling import mixture_rebalance

    docs = load_table(spark, sf_dir, "documents")
    return mixture_rebalance(docs, "doc_id", "source", _MIXTURE_PPM).select(
        "doc_id", "source"
    )


_MIX_H = h32_sql("'mixture|' || source || '|' || CAST(doc_id AS VARCHAR)")

register(
    "sample_mixture_rebalance",
    sample_mixture_rebalance,
    f"""
WITH c AS (SELECT source AS g, COUNT(*) AS n FROM documents GROUP BY source),
t AS (SELECT SUM(n) AS total FROM c),
r AS (
  SELECT g, LEAST(1000000, (CAST(CASE g {" ".join(f"WHEN '{g}' THEN {ppm}" for g, ppm in _MIXTURE_PPM.items())} ELSE 0 END AS BIGINT) * total) // n) AS keep_ppm
  FROM c, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN r ON d.source = r.g
WHERE CAST({_MIX_H} AS BIGINT) % 1000000 < keep_ppm
""",
)


def sample_weighted_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (operators/sampling.py
    weighted_sample): keep each document with probability
    min(n_chars, 800)/1600 — longer documents upweighted, capped at
    50% — as a pure deterministic scan predicate (exact integer
    compare of the salted content hash against weight·2³², no float,
    no RNG). The training-mixture primitive for importance sampling
    by any per-row score."""
    from xero_api_etl_utilities_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.weighted_sample(
        docs,
        key_col="doc_id",
        weight_num=F.least(F.col("n_chars"), F.lit(800)),
        weight_den=1600,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


register(
    "sample_weighted_by_length",
    sample_weighted_by_length,
    f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE CAST({h32_sql("'wlen|' || CAST(doc_id AS VARCHAR)")} AS BIGINT) * 1600
      < LEAST(n_chars, 800) * 4294967296
GROUP BY lang
""",
)


# ----------------------------------------------------- negative sampling

def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling — for every anchor document,
    k pseudo-random negative partners drawn WITHOUT any cartesian or
    RNG: neg_j(doc) = H32(doc_id || ':' || j) mod N, an exact integer
    hash the oracle replays. This is the standard trick for building
    contrastive / triplet training pairs at 100 TB: the anchor side
    explodes k ways (k tiny) and equi-joins the corpus on the computed
    id — shuffle cost is k rows per anchor, never N×N. Self-collisions
    (neg == anchor) are filtered, not re-drawn, so per-anchor counts
    are k or k-1, deterministically. N is a 1-row driver scalar
    (documented pattern); the oracle's N is the same COUNT(*) scalar
    subquery."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n = docs.count()  # bounded driver scalar; doc ids are 0..N-1
    k = 4
    anchors = docs.select(
        F.col("doc_id").alias("anchor_id"),
        F.posexplode(
            F.array(
                *[
                    (
                        h32(F.concat(F.col("doc_id").cast("string"), F.lit(f":{j}")))
                        % n
                    ).cast("bigint")
                    for j in range(k)
                ]
            )
        ).alias("j", "neg_id"),
    ).filter(F.col("neg_id") != F.col("anchor_id"))
    negs = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return (
        anchors.join(negs, "neg_id")
        .select("anchor_id", "j", "neg_id", "neg_source")
        .orderBy("anchor_id", "j")
    )


register(
    "sample_negative_pairs",
    sample_negative_pairs,
    f"""
WITH n AS (SELECT COUNT(*) AS n FROM documents),
anchors AS (
  SELECT doc_id AS anchor_id, j,
    CAST({h32_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")}
         AS BIGINT) % (SELECT n FROM n) AS neg_id
  FROM documents CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS j)
)
SELECT anchor_id, j, neg_id, d.source AS neg_source
FROM anchors JOIN documents d ON d.doc_id = anchors.neg_id
WHERE neg_id <> anchor_id
ORDER BY anchor_id, j
""",
)


# ---------------------------------------------------------------------------
# deterministic epoch shuffle with distributed stable numbering
# ---------------------------------------------------------------------------


def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order shuffle over 2 epochs and 8 shards.
    Each epoch permutes the corpus by the salted content hash h =
    H32(epoch || ':' || doc_id); position is the rank of (h, doc_id)
    and shard is position mod 8 — the same document lands at the same
    step of the same shard on any engine, any partitioning, any rerun
    (the ``operators/sampling.py`` determinism contract, extended
    from membership to ORDER).

    The scale trap is the rank: ``row_number() OVER (ORDER BY h)`` is
    a single-partition window.  Instead the total order is decomposed
    the way a range-partitioned sort is: bucket = h >> 24 (the top 8
    hash bits — so bucket boundaries are RANGES of the sort key),
    rank within (epoch, bucket) by (h, doc_id), plus the number of
    rows in all lower buckets of the epoch.  The within-bucket window
    spreads across 256 partitions per epoch; the offset table is one
    512-row aggregate + prefix window, broadcast back.  The oracle is
    the single ``row_number() OVER (ORDER BY h, doc_id)`` — equality
    with it PROVES the decomposition reconstructs the global order.
    At 100 TB widen the bucket shift; nothing else changes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ep = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    base = docs.crossJoin(F.broadcast(ep)).select(
        "epoch",
        "doc_id",
        h32(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    base = base.withColumn("bucket", F.shiftright(F.col("h"), 24))
    local = base.withColumn(
        "local_pos",
        F.row_number().over(
            Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
        ),
    )
    offsets = (
        base.groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.partitionBy("epoch")
                    .orderBy("bucket")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("epoch", "bucket", "offset")
    )
    return (
        local.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select(
            "epoch",
            "doc_id",
            (F.col("offset") + F.col("local_pos")).alias("pos"),
            ((F.col("offset") + F.col("local_pos")) % 8).alias("shard"),
        )
        .orderBy("epoch", "pos")
    )


def _epoch_shuffle_oracle() -> str:
    h = h32_sql("e.epoch || ':' || d.doc_id")
    return f"""
WITH hashed AS (
  SELECT e.epoch, d.doc_id, {h} AS h
  FROM documents d, (SELECT unnest(range(2))::INT AS epoch) e
), ranked AS (
  SELECT epoch, doc_id,
         row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS pos
  FROM hashed
)
SELECT epoch, doc_id, pos::BIGINT AS pos, (pos % 8)::BIGINT AS shard
FROM ranked ORDER BY epoch, pos
"""


register("sample_epoch_shuffle", sample_epoch_shuffle, _epoch_shuffle_oracle)


# ---------------------------------------------------------------------------
# token-budget mixture planner
# ---------------------------------------------------------------------------

_BUDGET_X = 2  # training budget as a multiple of the corpus token count


def sample_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining data-mixing planner — given per-source
    token inventories, mixture weights, and a total token budget,
    derive HOW MANY full epochs of each source to take and the exact
    sampling rate for the final partial pass.  This is the arithmetic
    behind every published data recipe (The Pile / LLaMA-style
    "source X is upsampled 2.45 epochs" tables), done engine-exactly:

        target_s   = budget * w_s div SUM(w)
        epochs_s   = target_s div avail_s          (full passes)
        partial_s  = (target_s mod avail_s) * 1e6 div avail_s   (ppm)

    Weights are a deterministic function of the source name (1 + the
    numeric suffix mod 4 — stands in for the human-chosen quality
    weighting), and the budget is ``_BUDGET_X`` x the corpus inventory
    so both regimes (upsampled epochs > 1, downsampled partial-only)
    are exercised at every sf.  The partial-rate cross-multiply runs
    in decimal(38,0): (target mod avail) * 10^6 outgrows a bigint once
    a source holds ~9·10^12 tokens — real at 100 TB — and the final
    ppm (<= 10^6) casts back down losslessly.

    Shape: ONE map-side-combinable source aggregate (token counts via
    single-space split length — the SAME rule the oracle's
    string_split(trim(text), ' ') applies and the
    ``corpus_mix_census``/``text_head_coverage``/``sample_pack_waste``
    siblings use; NOT ``whitespace_token_count``'s \\s+ split, which
    silently diverges on consecutive spaces/tabs/newlines — one
    tokenization rule on both sides at ANY input), a 1-row totals
    frame broadcast back, then pure per-row algebra; nothing about
    the plan changes with corpus size.  Downstream, the partial pass
    IS ``operators/sampling.py``'s hash-predicate sample at
    partial_ppm — this query plans, that operator executes."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint")
        ).alias("avail_tokens"),
    )
    weight = (
        F.regexp_extract(F.col("source"), "(\\d+)", 1).cast("bigint") % 4 + 1
    ).alias("weight")
    weighted = per_src.select("source", "n_docs", "avail_tokens", weight)
    # totals via an unpartitioned window over the SOURCE-GRAIN frame
    # (dimension-sized — the pareto/RFM precedent): a separate
    # agg-then-crossJoin would recompute the fact aggregate in both
    # branches, i.e. scan the corpus twice
    w_all = Window.partitionBy()
    totaled = weighted.withColumn(
        "w_sum", F.sum("weight").over(w_all)
    ).withColumn("budget", F.sum("avail_tokens").over(w_all) * _BUDGET_X)
    d38 = "decimal(38,0)"
    target = F.expr("budget * weight div w_sum")
    return (
        totaled
        .withColumn("target_tokens", target)
        .select(
            "source",
            "n_docs",
            "avail_tokens",
            "weight",
            "target_tokens",
            F.expr("target_tokens div avail_tokens").alias("full_epochs"),
            # integral `div` on decimal operands (returns BIGINT) — a
            # true `/` would round HALF_UP at the result scale while
            # DuckDB floors, an off-by-one on ties
            F.expr(
                f"cast(target_tokens % avail_tokens as {d38}) * 1000000"
                f" div cast(avail_tokens as {d38})"
            ).alias("partial_ppm"),
        )
        .orderBy("source")
    )


_TOKEN_BUDGET_ORACLE = f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT) AS avail_tokens,
    CAST(CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4 + 1 AS BIGINT)
      AS weight
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS w_sum,
    CAST(SUM(avail_tokens) * {_BUDGET_X} AS BIGINT) AS budget
  FROM per_src
)
SELECT source, n_docs, avail_tokens, weight,
  CAST(budget * weight // w_sum AS BIGINT) AS target_tokens,
  CAST((budget * weight // w_sum) // avail_tokens AS BIGINT) AS full_epochs,
  CAST(CAST((budget * weight // w_sum) % avail_tokens AS HUGEINT)
       * 1000000 // CAST(avail_tokens AS HUGEINT) AS BIGINT)
    AS partial_ppm
FROM per_src, tot
ORDER BY source
"""

register(
    "sample_token_budget_plan", sample_token_budget_plan, _TOKEN_BUDGET_ORACLE
)


# ---------------------------------------------------------------------------
# language × source mix census (the data-card table)
# ---------------------------------------------------------------------------


def corpus_mix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition table every dataset card publishes — per
    (lang, source) cell: documents, whitespace-token mass, and the
    cell's share of the whole corpus in ppm (integer ``div``, so the
    hash is exact and the shares are reproducible row-order-free).
    Upstream of the ``sample_token_budget_plan`` mixture planner: this is the
    inventory the
    planner's weights are set against.

    Shape: ONE corpus scan into a (lang × source)-sized aggregate; the
    corpus total is a window over that dimension-sized frame, not a
    second scan (the ``sample_token_budget_plan`` precedent — single-partition
    windows are
    fine on frames bounded by the dimension product)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("_nt"),
    )
    cells = base.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
    )
    tot = F.sum("n_tokens").over(Window.partitionBy())
    return (
        cells.withColumn("_tot", tot)
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("n_tokens * 1000000 div _tot").cast("bigint").alias(
                "share_ppm"
            ),
        )
        .orderBy("lang", "source")
    )


register(
    "corpus_mix_census",
    corpus_mix_census,
    """
WITH cells AS (
  SELECT lang, source, count(*)::BIGINT AS n_docs,
         sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
  FROM documents GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens,
  CAST(n_tokens * 1000000 // (SELECT sum(n_tokens) FROM cells) AS BIGINT)
    AS share_ppm
FROM cells ORDER BY lang, source
""",
)


# ---------------------------------------------------------------------------
# sequence-packing waste census
# ---------------------------------------------------------------------------

_PACK_LEN = 128


def sample_pack_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source padding-waste census at context length 128 —
    naive one-doc-per-sequence chunk count vs the perfect-packing
    lower bound ``ceil(total_tokens / L)``, with pad-waste and
    packing-savings shares in bp. This is the number a pretraining
    team reads before deciding whether sequence packing (or
    best-fit-decreasing batching) is worth the shuffle it costs.

    Shape: one scan projecting a token count per doc, one
    source-dimension aggregate; every output is exact integer math
    (ceil(n/L) as ``(n + L - 1) div L``), so the hash is stable.
    """
    L = _PACK_LEN
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("nt"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.sum(F.expr(f"(nt + {L - 1}) div {L}")).alias("naive_chunks"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("naive_chunks").cast("bigint").alias("naive_chunks"),
        F.expr(f"(n_tokens + {L - 1}) div {L}")
        .cast("bigint")
        .alias("packed_chunks_lb"),
        F.expr(f"(naive_chunks * {L} - n_tokens) * 10000 div (naive_chunks * {L})")
        .cast("bigint")
        .alias("pad_waste_bp"),
        F.expr(
            f"(naive_chunks - ((n_tokens + {L - 1}) div {L})) * 10000"
            " div naive_chunks"
        )
        .cast("bigint")
        .alias("packing_savings_bp"),
    ).orderBy("source")


register(
    "sample_pack_waste",
    sample_pack_waste,
    f"""
WITH per_doc AS (
  SELECT source, len(string_split(text, ' '))::BIGINT AS nt FROM documents
), agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
         sum((nt + {_PACK_LEN - 1}) // {_PACK_LEN})::BIGINT AS naive_chunks
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, n_tokens, naive_chunks,
  CAST((n_tokens + {_PACK_LEN - 1}) // {_PACK_LEN} AS BIGINT)
    AS packed_chunks_lb,
  CAST((naive_chunks * {_PACK_LEN} - n_tokens) * 10000
       // (naive_chunks * {_PACK_LEN}) AS BIGINT) AS pad_waste_bp,
  CAST((naive_chunks - ((n_tokens + {_PACK_LEN - 1}) // {_PACK_LEN})) * 10000
       // naive_chunks AS BIGINT) AS packing_savings_bp
FROM agg ORDER BY source
""",
)


# ---------------------------------------------------------------------------
# source x source corpus self-similarity via shared LSH buckets
# ---------------------------------------------------------------------------


def corpus_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other — the source-grain
    roll-up of the MinHash-LSH machinery: each source's OCCUPIED
    bucket set {(band, band_hash)} is its sketch; the pairwise
    bucket-set Jaccard (bp) estimates cross-source content overlap.
    The census a mixture designer reads before weighting two scrapes
    that are secretly the same crawl.

    Scale shape: the doc-grain work is the ONE standard signature
    pipeline (explode + groupBy); everything after the distinct
    (source, band, bh) projection is source-cardinality-sized.  The
    pair join keys on (band, bh) with fan-out bounded by the number
    of SOURCES sharing a bucket (<= n_sources, ~20 here), never by
    bucket membership — no stop-bucket cap needed, no doc-pair
    explosion anywhere.  Signature params match dedup_minhash_lsh
    (64 hashes, 16x4 banding, unigram shingles) so the sketch is the
    one already computed in a real run."""
    bands, rows_per_band = 16, 4
    docs = load_table(spark, sf_dir, "documents")
    # the memoized once-per-session sketch — same params, zero
    # re-shingling
    sigs = minhash_sigs(spark, sf_dir)
    # same banding recipe as the shared catalog projection — reuse the
    # (string-built) band_rows operator instead of a local
    # 16-struct Column loop; identical (doc, band, bh) rows
    from xero_api_etl_utilities_spark.operators.dedup import band_rows

    melted = band_rows(sigs, bands=bands, rows_per_band=rows_per_band)
    src = docs.select(F.col("doc_id").alias("doc"), "source")
    occ = (
        melted.join(src, "doc")
        .select("source", "band", "bh")
        .distinct()
    )
    per_src = occ.groupBy("source").agg(F.count(F.lit(1)).alias("n_buckets"))
    a = occ.select(F.col("source").alias("src_a"), "band", "bh")
    b = occ.select(F.col("source").alias("src_b"), "band", "bh")
    shared = (
        a.join(b, ["band", "bh"])
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = per_src.select(F.col("source").alias("src_a"), F.col("n_buckets").alias("n_a"))
    nb = per_src.select(F.col("source").alias("src_b"), F.col("n_buckets").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("n_shared * 10000 div (n_a + n_b - n_shared)").alias(
                "jaccard_bp"
            ),
        )
        .orderBy("src_a", "src_b")
    )


def _self_similarity_oracle() -> str:
    return (
        "WITH "
        + minhash_cand_ctes()
        + """, occ AS (
  SELECT DISTINCT d.source, bd.band, bd.bh
  FROM banded bd JOIN documents d ON bd.doc = d.doc_id
), per_src AS (
  SELECT source, count(*)::BIGINT AS n_buckets FROM occ GROUP BY source
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_shared
  FROM occ a JOIN occ b
    ON a.band = b.band AND a.bh = b.bh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared, na.n_buckets AS n_a, nb.n_buckets AS n_b,
  (n_shared * 10000 // (na.n_buckets + nb.n_buckets - n_shared))::BIGINT
    AS jaccard_bp
FROM shared
JOIN per_src na ON src_a = na.source
JOIN per_src nb ON src_b = nb.source
ORDER BY src_a, src_b
"""
    )


register("corpus_self_similarity", corpus_self_similarity, _self_similarity_oracle)


# ---------------------------------------------------------------------------
# split balance report
# ---------------------------------------------------------------------------


def split_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit of the deterministic hash split —
    for every (split, lang): document count, the language's share of
    that split (bp), its share of the whole corpus (bp), and the
    absolute deviation — the datasheet table proving train/val/test
    are language-balanced (a hash split is only balanced in
    EXPECTATION; this is the measurement).  Composes the SAME
    ``assign_split`` hash predicate as ``sample_split_assign`` and
    the leakage-safe splitter, so the audit covers the split actually
    shipped.

    Shape: one corpus scan -> (split, lang) aggregate; split totals,
    lang totals and the 1-row corpus total are dimension-sized
    broadcasts.  Integer bp throughout."""
    from xero_api_etl_utilities_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.assign_split(docs, "doc_id").select("split", "lang")
    cell = assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    split_tot = cell.groupBy("split").agg(F.sum("n_docs").alias("_st"))
    lang_tot = cell.groupBy("lang").agg(F.sum("n_docs").alias("_lt"))
    corpus_tot = cell.agg(F.sum("n_docs").alias("_ct"))
    return (
        cell.join(F.broadcast(split_tot), "split")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(corpus_tot))
        .select(
            "split",
            "lang",
            "n_docs",
            F.expr("n_docs * 10000 div _st").alias("split_share_bp"),
            F.expr("_lt * 10000 div _ct").alias("corpus_share_bp"),
            F.expr(
                "abs(n_docs * 10000 div _st - _lt * 10000 div _ct)"
            ).alias("dev_bp"),
        )
        .orderBy("split", "lang")
    )


_SPLIT_BALANCE_ORACLE = """
WITH assigned AS (
  SELECT lang,
    CASE WHEN sb < 80 THEN 'train' WHEN sb < 90 THEN 'val' ELSE 'test' END
      AS split
  FROM (SELECT lang,
    CAST(CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8)
      AS UBIGINT) AS BIGINT) % 100 AS sb FROM documents)
), cell AS (
  SELECT split, lang, count(*)::BIGINT AS n_docs
  FROM assigned GROUP BY 1, 2
), st AS (SELECT split, sum(n_docs)::BIGINT AS st FROM cell GROUP BY 1),
lt AS (SELECT lang, sum(n_docs)::BIGINT AS lt FROM cell GROUP BY 1),
ct AS (SELECT sum(n_docs)::BIGINT AS ct FROM cell)
SELECT c.split, c.lang, c.n_docs,
  (c.n_docs * 10000 // st.st)::BIGINT AS split_share_bp,
  (lt.lt * 10000 // ct.ct)::BIGINT AS corpus_share_bp,
  abs(c.n_docs * 10000 // st.st - lt.lt * 10000 // ct.ct)::BIGINT AS dev_bp
FROM cell c
JOIN st ON c.split = st.split
JOIN lt ON c.lang = lt.lang
CROSS JOIN ct
ORDER BY c.split, c.lang
"""

register("split_balance_report", split_balance_report, _SPLIT_BALANCE_ORACLE)


# ---------------------------------------------------------------------------
# curriculum phase plan
# ---------------------------------------------------------------------------

_CURRICULUM_CUTS = (8900, 8600)  # phase 1: >= 8900; phase 2: >= 8600; else 3


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training plan — fixed quality-score bands
    (the ``diag_quality_deciles`` integer composite, ABSOLUTE thresholds rather than
    ``diag_quality_deciles``'s relative deciles: a curriculum must mean the same thing
    run over run even as the corpus mix shifts) assign every document
    a phase (1 = cleanest first, 3 = noisiest last); the plan is the
    per (source, phase) doc/token census with the cumulative token
    schedule per source — what the dataloader consumes as its phase
    boundaries.

    Shape: one scan projection for the score, one (source, phase)
    aggregate, one 3-rows-per-source cumulative window (partitioned
    by source — never global).  Integer throughout."""
    t1, t2 = _CURRICULUM_CUTS
    docs = load_table(spark, sf_dir, "documents")
    from xero_api_etl_utilities_spark.operators.textstats import (
        STOPWORDS_EN,
        char_class_counts,
        stopword_hits,
    )

    cc = char_class_counts(F.col("text"))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    parts = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("_ntok_ws"),
        F.greatest(F.size(toks).cast("bigint"), F.lit(1).cast("bigint")).alias("_ntok"),
        F.greatest(cc["n_chars"], F.lit(1).cast("bigint")).alias("_nch"),
        stopword_hits(toks, STOPWORDS_EN).alias("_stops"),
        cc["n_alpha"].alias("_alpha"),
        cc["n_punct"].alias("_punct"),
    )
    scored = parts.select(
        "source",
        "_ntok_ws",
        F.expr(
            "10000 * _stops div _ntok + 10000 * _alpha div _nch"
            " - 10000 * _punct div _nch"
        ).alias("q"),
    ).withColumn(
        "phase",
        F.when(F.col("q") >= t1, 1).when(F.col("q") >= t2, 2).otherwise(3),
    )
    cell = scored.groupBy("source", "phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_ntok_ws").alias("n_tokens"),
    )
    cum = F.sum("n_tokens").over(
        Window.partitionBy("source")
        .orderBy("phase")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cell.withColumn("cum_tokens", cum)
        .select(
            "source",
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "n_tokens",
            F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        )
        .orderBy("source", "phase")
    )


def _curriculum_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN

    t1, t2 = _CURRICULUM_CUTS
    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH scored AS (
  SELECT source, len(string_split(trim(text), ' '))::BIGINT AS ntok_ws,
    CAST(10000 * len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           t -> list_contains([{stoplist}], t)))
      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
      AS BIGINT)
    + CAST(10000 * (length(text)
           - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT)
    - CAST(10000 * (length(text)
           - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT) AS q
  FROM documents
), phased AS (
  SELECT source, ntok_ws,
    CASE WHEN q >= {t1} THEN 1 WHEN q >= {t2} THEN 2 ELSE 3 END AS phase
  FROM scored
), cell AS (
  SELECT source, phase, count(*)::BIGINT AS n_docs,
    sum(ntok_ws)::BIGINT AS n_tokens
  FROM phased GROUP BY 1, 2
)
SELECT source, CAST(phase AS INT) AS phase, n_docs, n_tokens,
  sum(n_tokens) OVER (PARTITION BY source ORDER BY phase
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_tokens
FROM cell
ORDER BY source, phase
"""


register("sample_curriculum_order", sample_curriculum_order, _curriculum_oracle)


# ---------------------------------------------------------------------------
# label-noise Cohen's kappa (kNN-majority vs dataset label)
# ---------------------------------------------------------------------------


def label_noise_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected label agreement — Cohen's kappa between
    the dataset label and the kNN-MAJORITY label over the same
    bounded probe set ``similarity_label_purity`` uses: purity
    (``similarity_label_purity``) says how mixed each
    label's neighborhood is; kappa says whether the labeling beats
    chance AT ALL once the marginal label frequencies are priced in —
    the one number a labeling vendor is held to.

    Exact rational output (the ``text_zipf_slope`` convention): with n probes,
    po_n = #agreements, and pe_num = sum over labels of
    row-marginal x column-marginal, kappa = (n*po_n - pe_num) /
    (n^2 - pe_num) — published as (kappa_num, kappa_den) BIGINTs,
    division left to the reader; no float crosses an engine.

    The majority vote ties break to the SMALLER label (deterministic
    on both engines).  Shape: the guard-caged brute-force shortlist
    (80 probes; production feeds the same aggregate from the IVF
    shortlist), a probe-partitioned vote window over <= 10 rows per
    probe, and label-dimension-sized marginal aggregates."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = probe_knn_shortlist(spark, sf_dir)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "ql"
    )
    nl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "nl"
    )
    votes = (
        F.broadcast(nn)
        .join(nl, "neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    top = votes.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("nl"))
        ),
    ).filter(F.col("rk") == 1)
    paired = top.join(ql, "query_id").select(
        "query_id", F.col("nl").alias("pred"), F.col("ql").alias("truth")
    )
    # confusion marginals: rows = truth, cols = pred; all bounded by
    # the label dimension
    n_po = paired.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("pred") == F.col("truth"), 1).otherwise(0)
        ).alias("po_n"),
    )
    rows = paired.groupBy(F.col("truth").alias("l")).agg(
        F.count(F.lit(1)).alias("r")
    )
    cols = paired.groupBy(F.col("pred").alias("l")).agg(
        F.count(F.lit(1)).alias("c")
    )
    pe = (
        rows.join(cols, "l", "inner")
        .agg(F.coalesce(F.sum(F.col("r") * F.col("c")), F.lit(0)).alias("pe_num"))
    )
    return (
        n_po.crossJoin(F.broadcast(pe))
        .select(
            F.col("n").cast("bigint").alias("n_probes"),
            F.col("po_n").cast("bigint").alias("n_agree"),
            (F.col("n") * F.col("po_n") - F.col("pe_num"))
            .cast("bigint")
            .alias("kappa_num"),
            (F.col("n") * F.col("n") - F.col("pe_num"))
            .cast("bigint")
            .alias("kappa_den"),
        )
    )


_KAPPA_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS ql
  FROM embeddings WHERE vec_id < 80
), scored AS (
  SELECT q.query_id, q.ql, c.vec_id AS nid, c.label AS nl,
         list_cosine_similarity(q.qv, c.embedding) AS s
  FROM q, embeddings c
  WHERE q.query_id <> c.vec_id
), ranked AS (
  SELECT query_id, ql, nl,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s DESC, nid ASC) AS rank
  FROM scored
), votes AS (
  SELECT query_id, any_value(ql) AS ql, nl, count(*) AS v
  FROM ranked WHERE rank <= 10 GROUP BY query_id, nl
), top AS (
  SELECT query_id, ql, nl AS pred
  FROM votes
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY v DESC, nl ASC) = 1
), agg AS (
  SELECT count(*)::BIGINT AS n,
    sum(CASE WHEN pred = ql THEN 1 ELSE 0 END)::BIGINT AS po_n
  FROM top
), pe AS (
  SELECT coalesce(sum(r.rn * c.cn), 0)::BIGINT AS pe_num
  FROM (SELECT ql AS l, count(*) AS rn FROM top GROUP BY 1) r
  JOIN (SELECT pred AS l, count(*) AS cn FROM top GROUP BY 1) c
    ON r.l = c.l
)
SELECT n AS n_probes, po_n AS n_agree,
  (n * po_n - pe_num)::BIGINT AS kappa_num,
  (n * n - pe_num)::BIGINT AS kappa_den
FROM agg CROSS JOIN pe
"""

register("label_noise_kappa", label_noise_kappa, _KAPPA_ORACLE)


# ---------------------------------------------------------------------------
# overlapped-chunking storage amplification census
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # chunk window (tokens) — sized to this corpus's ~40-80
_CHUNK_S = 24  # token docs so the census exercises the multi-chunk
               # branch at every sf; production uses e.g. (512, 384)


def doc_chunk_overlap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-chunking storage planner — sliding chunks of W
    tokens at stride S (overlap W-S) and, per source, the CLOSED-FORM
    chunk/storage census: chunk count, stored token mass (overlap
    counts every chunk it lands in), and the storage amplification in
    bp over the raw corpus.  ``doc_pack_chunks`` materializes
    non-overlapping chunk rows; retrieval chunking overlaps (so no
    answer straddles a boundary), and the amplification is the number
    a vector-store capacity plan needs BEFORE materializing anything.

    Entirely per-row integer algebra — no explode: for a doc of L
    tokens, n_chunks = 1 if L <= W else (L - W + S - 1) div S + 1,
    and stored = L + (n_chunks - 1) * (W - S) + padding-free tail
    correction... no: stored = W * (n_chunks - 1) + (L - S *
    (n_chunks - 1)) for L > W (the last chunk is whatever remains
    from its start), = L + (W - S) * (n_chunks - 1) exactly — the
    overlap mass in closed form.  One scan projection + one source
    aggregate; nothing else."""
    w, s = _CHUNK_W, _CHUNK_S
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("L"),
    )
    n_chunks = F.when(
        F.col("L") <= w, F.lit(1).cast("bigint")
    ).otherwise(F.expr(f"(L - {w} + {s} - 1) div {s} + 1"))
    per_doc = sized.select(
        "source",
        "L",
        n_chunks.alias("nc"),
    ).select(
        "source",
        "L",
        "nc",
        (F.col("L") + (F.col("nc") - 1) * (w - s)).alias("stored"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("L").alias("n_tokens"),
            F.sum("nc").alias("n_chunks"),
            F.sum("stored").alias("stored_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chunks",
            "stored_tokens",
            F.expr("stored_tokens * 10000 div n_tokens").alias(
                "amplification_bp"
            ),
        )
        .orderBy("source")
    )


_CHUNK_OVERLAP_ORACLE = f"""
WITH sized AS (
  SELECT source, len(string_split(trim(text), ' '))::BIGINT AS L
  FROM documents
), per_doc AS (
  SELECT source, L,
    CASE WHEN L <= {_CHUNK_W} THEN 1
         ELSE (L - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1 END AS nc
  FROM sized
)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(L)::BIGINT AS n_tokens,
  sum(nc)::BIGINT AS n_chunks,
  sum(L + (nc - 1) * {_CHUNK_W - _CHUNK_S})::BIGINT AS stored_tokens,
  (sum(L + (nc - 1) * {_CHUNK_W - _CHUNK_S}) * 10000 // sum(L))::BIGINT
    AS amplification_bp
FROM per_doc GROUP BY source ORDER BY source
"""

register("doc_chunk_overlap_census", doc_chunk_overlap_census, _CHUNK_OVERLAP_ORACLE)


# ---------------------------------------------------------------------------
# curated-corpus PUBLISH capstone (emit → pack → shard → read back)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 4096


def _publish_dir(sf_dir: str, run_suffix: str | None = None) -> str:
    """Deterministic artifact location: env-overridable, defaulting to
    the git-ignored warehouse dir inside the repo (never the input data
    directory or any machine-absolute data path).  ``run_suffix`` (the Spark
    applicationId in :func:`publish_corpus`) isolates concurrent runs
    against the same base dir — two parallel gate sessions otherwise
    race on one artifact path."""
    import os

    base = os.environ.get("XERO_SPARK_PUBLISH_DIR")
    if base is None:
        # plans/curation_ops.py -> plans -> package dir -> repo root (three
        # dirnames; a fourth would escape the repo).
        import xero_api_etl_utilities_spark as _pkg

        pkg_dir = os.path.dirname(os.path.abspath(_pkg.__file__))
        repo_root = os.path.dirname(pkg_dir)
        base = os.path.join(repo_root, "spark-warehouse", "corpus_publish")
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    if run_suffix:
        sf_name = f"{sf_name}-{run_suffix}"
    return os.path.join(base, sf_name)


def publish_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Write half of the corpus publish: span-dedup emit → drop
    fully-removed docs → fixed-budget pack per source shard → source-
    partitioned parquet shards (sources/writer.py).  Returns the
    artifact path.

    100 TB shape: the emit frame is doc-grain; packing is one
    source-partitioned window (never global); the pack-id join back
    is a doc-key equi-join; the write shards by source so downstream
    training readers prune per-source.  Nothing here collects to the
    driver."""
    from xero_api_etl_utilities_spark.operators.packing import pack_fixed_budget
    from xero_api_etl_utilities_spark.sources.writer import write_partitioned

    frame = span_dedup_frame(spark, sf_dir).filter(F.col("kept_tokens") > 0)
    packed = pack_fixed_budget(
        frame, "doc_id", "kept_tokens", _PACK_BUDGET, shard_col="source"
    )
    artifact = frame.join(
        packed.select("doc_id", "pack_id"), "doc_id"
    ).select("doc_id", "source", "kept_tokens", "kept_text", "pack_id")
    path = _publish_dir(
        sf_dir, run_suffix=spark.sparkContext.applicationId
    )
    prune_stale_runs(path, sf_dir)
    write_partitioned(artifact, path, ["source"])
    return path


def pipeline_corpus_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curated-corpus PUBLISH gate — the
    composition the pieces individually proved but the catalog never
    gated: ``text_span_dedup_emit``'s span-deduplicated emit, packed into
    fixed-token-budget training packs (``doc_pack_chunks``'s sharded next-fit), written
    as source-partitioned parquet shards, READ BACK FROM DISK, and
    censused per pack.  The returned frame derives entirely from the
    on-disk artifact, so the driver's hash check certifies the full
    write→read roundtrip (schema, partition-column restore, text
    fidelity via the cross-engine md5 hash) against a DuckDB oracle
    that replays emit→pack→census without any filesystem at all.

    Census per (source, pack_id): doc count, token mass, doc-id sum,
    and sum of per-doc ``h64(kept_text) mod p`` (p = 1e9+7, bounded so
    a pack's sum stays far from BIGINT range) — the text-fidelity
    fingerprint."""
    from xero_api_etl_utilities_spark.functions.crosshash import h64
    from xero_api_etl_utilities_spark.sources.writer import read_partitioned

    path = publish_corpus(spark, sf_dir)
    rb = read_partitioned(spark, path)
    return (
        rb.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept_tokens").cast("bigint").alias("pack_tokens"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum(F.pmod(h64(F.col("kept_text")), F.lit(HASH_P)))
            .cast("bigint")
            .alias("text_hash_sum"),
        )
        .orderBy("source", "pack_id")
    )


def _corpus_publish_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import (
        h64_hi_sql,
        h64_lo_sql,
        signed64_sql,
    )
    th = signed64_sql(h64_hi_sql("kept_text"), h64_lo_sql("kept_text"))
    return f"""
WITH emit AS ({span_dedup_emit_oracle()}),
kept AS (
  SELECT doc_id, source, kept_tokens, kept_text
  FROM emit WHERE kept_tokens > 0
), packed AS (
  SELECT doc_id, source, kept_tokens, kept_text,
    CAST(coalesce(sum(kept_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
  FROM kept
)
SELECT source, prev // {_PACK_BUDGET} AS pack_id,
  count(*)::BIGINT AS n_docs,
  sum(kept_tokens)::BIGINT AS pack_tokens,
  sum(doc_id)::BIGINT AS sum_doc_id,
  sum((({th} % {HASH_P}) + {HASH_P}) % {HASH_P})::BIGINT AS text_hash_sum
FROM packed
GROUP BY source, prev // {_PACK_BUDGET}
ORDER BY source, pack_id
"""


register(
    "pipeline_corpus_publish", pipeline_corpus_publish, _corpus_publish_oracle
)


# ---------------------------------------------------------------------------
# temperature-scaled source mixing (census -> weights -> quotas -> pick)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1000  # docs in the mixed sample
_MIX_SCALE = 1000  # weight quantization: floor(sqrt(n) * _MIX_SCALE)


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED mixture design — the standard recipe
    for flattening a skewed source distribution (sampling weight
    ∝ n_s^(1/T); T=2 here, i.e. ∝ sqrt(n_s)) before drawing a training
    mix, as in the Gopher/LLaMA data recipes.  Where
    ``sample_mixture_rebalance`` APPLIES given rates, this DERIVES
    them: per-source census → quantized temperature weight →
    exact-integer quota out of a fixed budget → deterministic
    hash-ranked pick, reported per source (census count, weight,
    quota, picked — picked == quota while the source can fill it).

    Exactness across engines: the only non-integer step is
    ``sqrt(n_s)``, a single correctly-rounded IEEE-754 op (identical
    in the JVM and DuckDB for the same BIGINT input — no sums or
    products of floats ever cross an engine); it is immediately
    quantized by ``floor(sqrt(n)*1000)`` into BIGINT, and everything
    after (total, quotas via ``div``, ranks) is exact integer
    arithmetic.  The pick is the repo's deterministic-hash convention:
    rank within source by (md5-derived h32(doc_id), doc_id), keep
    rank <= quota — rerun-stable, no RNG.

    100 TB shape: the census and the weight/quota table are
    source-cardinality (tiny, broadcast); the pick is ONE
    source-partitioned window over the corpus — no global sort, no
    single partition; the report aggregates the picked frame."""
    from xero_api_etl_utilities_spark.functions.crosshash import h32

    docs = load_table(spark, sf_dir, "documents")
    census = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    weights = census.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * _MIX_SCALE)
        .cast("bigint")
        .alias("weight"),
    )
    total = weights.agg(F.sum("weight").alias("_tw"))
    # source-cardinality frame feeding BOTH the pick's quota join and
    # the final report: materialize once (the aggregate diamond rule —
    # Spark plans no ReusedExchange, so the lazy form would scan the
    # corpus census twice and attach the 1-row total twice)
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    quotas = materialize(
        weights.crossJoin(F.broadcast(total)).select(
            "source",
            "n_docs",
            "weight",
            F.expr(f"CAST(({_MIX_BUDGET} * weight) div _tw AS BIGINT)").alias(
                "quota"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        h32(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    picked = (
        docs.select("source", "doc_id")
        .withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(quotas.select("source", "quota")), "source")
        .filter(F.col("_rk") <= F.col("quota"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("picked"))
    )
    return (
        quotas.join(F.broadcast(picked), "source", "left")
        .select(
            "source",
            "n_docs",
            "weight",
            "quota",
            F.coalesce(F.col("picked"), F.lit(0)).cast("bigint").alias(
                "picked"
            ),
        )
        .orderBy("source")
    )


register(
    "sample_temperature_mix",
    sample_temperature_mix,
    f"""
WITH census AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
weights AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * {_MIX_SCALE}) AS BIGINT) AS weight
  FROM census
),
quotas AS (
  SELECT source, n_docs, weight,
         CAST(({_MIX_BUDGET} * weight)
              // (SELECT SUM(weight) FROM weights) AS BIGINT) AS quota
  FROM weights
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS UBIGINT) ASC,
                    doc_id ASC) AS _rk
  FROM documents
),
picked AS (
  SELECT r.source, CAST(COUNT(*) AS BIGINT) AS picked
  FROM ranked r JOIN quotas q ON q.source = r.source
  WHERE r._rk <= q.quota
  GROUP BY r.source
)
SELECT q.source, q.n_docs, q.weight, q.quota,
       CAST(COALESCE(p.picked, 0) AS BIGINT) AS picked
FROM quotas q LEFT JOIN picked p ON p.source = q.source
ORDER BY q.source
""",
)


# ---------------------------------------------------------------------------
# the gated model swap — the decision ``text_quality_drift``'s census feeds, oracled
# ---------------------------------------------------------------------------

_AGREE_MIN_BP = 9000  # swap needs >= 90.00% global verdict agreement
_FLIP_CAP_BP = 800  # and no source may flip > 8.00% of its documents


def quality_swap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-swap policy as a deterministic integer verdict
    — ``text_quality_drift`` produces the drift census a curation team READS; this is
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
    whole decision is one dimension-grain aggregate over ``text_quality_drift``'s
    per-source census frame (text_ops.drift_counted — two in-row scoring
    folds, one groupBy), so the policy costs nothing beyond the census
    a swap review already runs."""
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
