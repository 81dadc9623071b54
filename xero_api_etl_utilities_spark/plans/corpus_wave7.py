"""Round-7 corpus-curation wave (SURVEY §2.12 X119–X126).

No reference counterpart (``src/queries.ts`` is a bookkeeping ETL);
these extend the LLM-training-pipeline families with the census and
planning operators a curation run publishes alongside the dedup /
similarity / drift reports already in the catalog:

* X119 ``feature_pit_scd2`` (plans/cdc_ops.py) — the feature-store
  capstone: SCD2 history build composed with a point-in-time fetch
  and a training-feature rollup, oracled end to end.
* X120 ``text_unigram_logprob`` — unigram-LM surprisal scoring, the
  perplexity-proxy quality filter, in EXACT integer bit arithmetic
  (ilog2 via binary-string length — no float log on either engine).
* X121 ``text_winnow_fingerprints`` — Schleimer/Wilkerson/Aiken
  winnowing (MOSS) fingerprint census: per-window minimum of k-gram
  hashes with a total (hash, pos) tie order.
* X122 ``corpus_self_similarity`` — source x source corpus overlap
  estimated from shared MinHash-LSH buckets (bucket-set Jaccard in
  bp) — the "which sources duplicate each other" heatmap.
* X123 ``split_balance_report`` — per-(split, lang) census of the
  hash split with deviation from the corpus language mix in bp — the
  stratification check every datasheet publishes.
* X124 ``text_zipf_slope`` — integer OLS fit of ilog2(freq) on
  ilog2(rank) over the token frequency table; the slope ~ -1 Zipf
  diagnostic, with the global frequency rank computed by the same
  band-decomposed (no single-partition window) rank as X109b.
* X125 ``embedding_label_centroid_sim`` — label-centroid pairwise
  cosine: which class centroids are entangled (cos >= 0.12).  IDs
  only in the output — the threshold sits >= 3.6e-3 from every pair
  at every sf, far beyond cross-engine float-summation noise (the
  dedup_embedding_cosine stability argument).
* X126 ``sample_curriculum_order`` — curriculum phase plan: fixed
  quality-score bands (easy -> hard), per (source, phase) doc/token
  counts with cumulative token schedule per source.
* X129 ``label_noise_kappa`` — Cohen's kappa between dataset labels
  and the kNN-majority vote, published as an exact rational.
* X130 ``tokenizer_oov_census`` — top-V vocabulary OOV rates per
  source (TakeOrdered top-V, never a rank window).
* X131 ``text_char_entropy`` — per-doc character entropy in ilog2
  milli-bits (single-char floods / base64 spills detector).
* X133 ``text_rake_keywords`` — RAKE (Rose et al. 2010) candidate
  phrases with integer deg/freq word scores, corpus top-20 via
  TakeOrdered.
* X134 ``doc_chunk_overlap_census`` — RAG sliding-window chunking
  storage amplification per source in closed form (no explode).
* X143 ``text_bigram_surprisal`` — conditional ilog2 surprisal per
  bigram, the order-2 extension of X120.

Every hashed output value is an integer (or exact rational published
as num/den); every oracle replays the same algorithm in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# X120: unigram-LM surprisal scoring (integer bit arithmetic)
# ---------------------------------------------------------------------------


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: the perplexity-proxy quality filter — score every
    document by its mean unigram surprisal under the corpus's own
    unigram LM, then publish the per-source score census.  Documents
    whose tokens are uniformly corpus-frequent (boilerplate) score
    low; rare-token-heavy documents (gibberish, foreign-language
    leaks) score high — the cheap stand-in for a KenLM perplexity
    gate in CCNet-style curation.

    Float-free: surprisal of token t is ilog2(N / c_t) BITS, where
    ilog2(x) = length(bin(x)) - 1 — the binary-string lowering both
    engines compute digit-exactly (no log(), no cross-engine ulp
    drift ever).  Doc score = sum(tf_t * bits_t) * 1000 div len_doc
    (milli-bits per token).

    Shape: one (doc, token) aggregate, one vocabulary aggregate, one
    token-keyed equi-join (vocab-sized build side — shuffled, NOT
    blind-broadcast: a 100 TB corpus's vocabulary is 10^8+), one
    doc-grain aggregate, one source-grain census.  All
    map-side-combinable; no windows."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("tok"),
        )
        .groupBy("doc_id", "source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("_N"))
    bits = (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "tok",
            (F.length(F.bin(F.expr("_N div cnt"))) - 1)
            .cast("bigint")
            .alias("bits"),
        )
    )
    doc_scores = (
        tf.join(bits, "tok")
        .groupBy("doc_id", "source")
        .agg(
            F.expr("sum(tf * bits) * 1000 div sum(tf)").alias("score_mb")
        )
    )
    return (
        doc_scores.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(score_mb) div count(1)").alias("mean_mb"),
            F.min("score_mb").alias("min_mb"),
            F.max("score_mb").alias("max_mb"),
        )
        .orderBy("source")
    )


_UNIGRAM_LOGPROB_ORACLE = """
WITH tf AS (
  SELECT doc_id, source, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, source,
          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
  GROUP BY 1, 2, 3
), vocab AS (
  SELECT tok, sum(tf)::BIGINT AS cnt FROM tf GROUP BY 1
), bits AS (
  SELECT tok,
    (length(bin((SELECT sum(cnt) FROM vocab) // cnt)) - 1)::BIGINT AS bits
  FROM vocab
), doc_scores AS (
  SELECT doc_id, source,
    sum(tf * bits) * 1000 // sum(tf) AS score_mb
  FROM tf JOIN bits USING (tok)
  GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_docs,
  (sum(score_mb) // count(*))::BIGINT AS mean_mb,
  min(score_mb)::BIGINT AS min_mb,
  max(score_mb)::BIGINT AS max_mb
FROM doc_scores GROUP BY source ORDER BY source
"""

register("text_unigram_logprob", text_unigram_logprob, _UNIGRAM_LOGPROB_ORACLE)


# ---------------------------------------------------------------------------
# X121: winnowing fingerprint census (Schleimer et al., MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # word k-gram size
_WINNOW_W = 4  # winnowing window (w consecutive k-gram hashes)


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003) —
    the fingerprint-selection scheme MOSS uses: hash every word
    k-gram, slide a window of w consecutive hashes, record each
    window's minimum; the selected set is a ~2/(w+1)-density sample
    with the guarantee that any shared run of w+k-1 words yields a
    shared fingerprint.  The census per source: k-gram mass,
    fingerprints selected, selection density in bp — the storage-
    planning number for a fingerprint-based plagiarism/overlap index.

    Determinism: ties are broken by POSITION via one packed integer
    key = hash * 2^20 + pos (pos < 2^20 at this corpus's doc lengths;
    widen the shift for book-length docs) — every window then has a
    UNIQUE minimum, so "leftmost minimal hash" is the selected
    occurrence and both engines agree bit-for-bit.  Docs with fewer
    than w windows degenerate to one whole-doc window (s = 1), the
    paper's short-document convention.

    Shape: k-gram hashes in-row (transform over a sequence — the
    boilerplate-shingles pattern), one DOC-PARTITIONED sliding-frame
    window min (rows between current and w-1 following; fully
    parallel), one distinct, one census aggregate.  No
    single-partition windows, no joins on the k-gram grain."""
    k, w = _WINNOW_K, _WINNOW_W
    docs = load_table(spark, sf_dir, "documents")
    wdocs = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    words = F.col("_w")

    def shingle(i):
        return F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(k)])

    idx = F.when(
        F.size(words) >= k, F.sequence(F.lit(1), F.size(words) - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    kg = wdocs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(idx, lambda i: shingle(i.cast("int")))
        ).alias("pos0", "s"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).alias("pos"),
        (h32(F.col("s")) * F.lit(1_048_576) + F.col("pos0") + 1).alias("key"),
    )
    dw = Window.partitionBy("doc_id")
    sel = kg.select(
        "doc_id",
        "source",
        "pos",
        F.min("key")
        .over(dw.orderBy("pos").rowsBetween(0, w - 1))
        .alias("winmin"),
        F.count(F.lit(1)).over(dw).alias("_L"),
    ).filter(F.col("pos") <= F.greatest(F.col("_L") - w + 1, F.lit(1)))
    fps = sel.select("doc_id", "source", "winmin").distinct()
    grams = kg.groupBy("source").agg(F.count(F.lit(1)).alias("n_kgrams"))
    return (
        fps.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_fingerprints"))
        .join(grams, "source")
        .select(
            "source",
            "n_kgrams",
            "n_fingerprints",
            F.expr("n_fingerprints * 10000 div n_kgrams").alias("density_bp"),
        )
        .orderBy("source")
    )


def _winnow_oracle() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    sh = " || ' ' || ".join(f"wds[i + {j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS wds FROM documents
), kg AS (
  SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
    CAST({h32_sql(sh)} AS BIGINT) * 1048576 + i AS key
  FROM toks, unnest(range(1, greatest(len(wds) - {k - 1}, 0) + 1)) AS t(i)
), sel AS (
  SELECT doc_id, source, pos,
    min(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS winmin,
    count(*) OVER (PARTITION BY doc_id) AS L
  FROM kg
), fps AS (
  SELECT DISTINCT doc_id, source, winmin
  FROM sel WHERE pos <= greatest(L - {w - 1}, 1)
), grams AS (
  SELECT source, count(*)::BIGINT AS n_kgrams FROM kg GROUP BY source
)
SELECT f.source, g.n_kgrams, count(*)::BIGINT AS n_fingerprints,
  (count(*) * 10000 // g.n_kgrams)::BIGINT AS density_bp
FROM fps f JOIN grams g ON f.source = g.source
GROUP BY f.source, g.n_kgrams
ORDER BY f.source
"""


register("text_winnow_fingerprints", text_winnow_fingerprints, _winnow_oracle)


# ---------------------------------------------------------------------------
# X122: source x source corpus self-similarity via shared LSH buckets
# ---------------------------------------------------------------------------


def corpus_self_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: which sources duplicate each other — the source-grain
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
    from xero_api_etl_utilities_spark.plans.corpus_ops import minhash_sigs

    bands, rows_per_band = 16, 4
    docs = load_table(spark, sf_dir, "documents")
    # the memoized once-per-session sketch (r11) — same params, zero
    # re-shingling
    sigs = minhash_sigs(spark, sf_dir)
    # same banding recipe as the shared catalog projection — reuse the
    # (string-built, r15) band_rows operator instead of a local
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import (
        minhash_cand_ctes,
    )

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
# X123: split balance report
# ---------------------------------------------------------------------------


def split_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: stratification audit of the deterministic hash split —
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
# X124: Zipf slope via integer OLS on ilog2 scales
# ---------------------------------------------------------------------------


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipf diagnostic — OLS fit of y = ilog2(freq) on
    x = ilog2(rank) over the whole token frequency table; a healthy
    natural-language corpus fits slope ~ -1, while machine-generated
    or template text bends the curve (this synthetic corpus's 31
    saturated filler words + rare-token tail is exactly such a bend —
    the diagnostic working as intended).

    Exactness: both logs are the integer ilog2 (binary-string length
    - 1 — digit-exact on both engines), so all five OLS
    sums (n, Σx, Σy, Σxy, Σx²) are exact BIGINTs and the slope is
    published as an exact RATIONAL (slope_num, slope_den) with
    slope = slope_num/slope_den — no integer-division-of-negatives
    semantics to match across engines, no float anywhere.

    Scale: the frequency RANK (order by count desc, token asc) is the
    one global total order — computed with the band decomposition of
    ``diag_quality_deciles_dist`` (bucket = ilog2(cnt), within-bucket
    partitioned row_number, broadcast prefix offsets from an inequality self-join
    on the <= 64-row bucket histogram), so no single-partition window
    touches the vocabulary grain; the oracle uses the plain global
    row_number, proving the decomposition reconstructs the order."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bucket", (F.length(F.bin(F.col("cnt"))) - 1).cast("int"))
    )
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed,
    )

    ranked = global_rank_decomposed(
        vocab,
        "bucket",
        [F.desc("cnt"), F.asc("tok")],
        descending_bands=True,
    ).select(
        (F.length(F.bin(F.col("r"))) - 1).cast("bigint").alias("x"),
        (F.length(F.bin(F.col("cnt"))) - 1).cast("bigint").alias("y"),
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.select(
        "n_terms",
        (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("slope_num"),
        (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("slope_den"),
    )


_ZIPF_SLOPE_ORACLE = """
WITH vocab AS (
  SELECT tok, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
  GROUP BY 1
), ranked AS (
  SELECT (length(bin(row_number() OVER (ORDER BY cnt DESC, tok ASC))) - 1)
           ::BIGINT AS x,
         (length(bin(cnt)) - 1)::BIGINT AS y
  FROM vocab
), sums AS (
  SELECT count(*)::BIGINT AS n_terms, sum(x)::BIGINT AS sx,
    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
    sum(x * x)::BIGINT AS sxx
  FROM ranked
)
SELECT n_terms,
  (n_terms * sxy - sx * sy)::BIGINT AS slope_num,
  (n_terms * sxx - sx * sx)::BIGINT AS slope_den
FROM sums
"""

register("text_zipf_slope", text_zipf_slope, _ZIPF_SLOPE_ORACLE)


# ---------------------------------------------------------------------------
# X125: label-centroid pairwise cosine (class entanglement)
# ---------------------------------------------------------------------------

_CENTROID_COS_T = 0.12  # margin >= 3.6e-3 from every pair at sf0.001/0.01/0.1


def embedding_label_centroid_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X125: which label centroids are entangled — pairwise cosine
    between per-label embedding centroids, emitting the pairs with
    cos >= 0.12: the class-confusion early warning a labeling run
    checks before training (entangled centroids predict the
    confusion-matrix hot spots X116's kNN purity measures at the
    instance grain).

    Engine stability: centroids are float means, so raw cosines
    differ across engines in the last ulp — the output is therefore
    IDS ONLY with a threshold sitting >= 3.6e-3 away from every
    pair's cosine at every sf (measured; the dedup_embedding_cosine
    argument).  The predicate is applied as dot > 0 AND
    dot² >= t²·n2a·n2b — no sqrt.

    Shape: ONE fact-sized aggregate (posexplode -> (label, dim) mean
    — map-side-combinable); everything after is labels x dims (~640
    rows): broadcast self-join on dim, pair aggregate, norm join.
    At 100 TB the fact aggregate is still the only big stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("cv"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("cv").alias("va")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("cv").alias("vb")
    )
    dots = (
        a.join(F.broadcast(b), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    norms = cent.groupBy("label").agg(F.sum(F.col("cv") * F.col("cv")).alias("n2"))
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    t2 = _CENTROID_COS_T * _CENTROID_COS_T
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .filter(
            (F.col("dot") > 0)
            & (F.col("dot") * F.col("dot") >= F.lit(t2) * F.col("n2a") * F.col("n2b"))
        )
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
        )
        .orderBy("label_a", "label_b")
    )


def _centroid_sim_oracle() -> str:
    t2 = _CENTROID_COS_T * _CENTROID_COS_T
    return f"""
WITH cent AS (
  SELECT label, CAST(t.d AS INT) AS dim, avg(embedding[t.d]) AS cv
  FROM embeddings, unnest(range(1, 65)) AS t(d)
  GROUP BY 1, 2
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b, sum(a.cv * b.cv) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
), norms AS (
  SELECT label, sum(cv * cv) AS n2 FROM cent GROUP BY 1
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b
FROM dots
JOIN norms na ON label_a = na.label
JOIN norms nb ON label_b = nb.label
WHERE dot > 0 AND dot * dot >= {t2!r} * na.n2 * nb.n2
ORDER BY label_a, label_b
"""


register(
    "embedding_label_centroid_sim",
    embedding_label_centroid_sim,
    _centroid_sim_oracle,
)


# ---------------------------------------------------------------------------
# X126: curriculum phase plan
# ---------------------------------------------------------------------------

_CURRICULUM_CUTS = (8900, 8600)  # phase 1: >= 8900; phase 2: >= 8600; else 3


def sample_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: curriculum training plan — fixed quality-score bands
    (the X109 integer composite, ABSOLUTE thresholds rather than
    X109's relative deciles: a curriculum must mean the same thing
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
# X129: label-noise Cohen's kappa (kNN-majority vs dataset label)
# ---------------------------------------------------------------------------


def label_noise_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: chance-corrected label agreement — Cohen's kappa between
    the dataset label and the kNN-MAJORITY label over the same
    bounded probe set X116 uses: purity (X116) says how mixed each
    label's neighborhood is; kappa says whether the labeling beats
    chance AT ALL once the marginal label frequencies are priced in —
    the one number a labeling vendor is held to.

    Exact rational output (the X124 convention): with n probes,
    po_n = #agreements, and pe_num = sum over labels of
    row-marginal x column-marginal, kappa = (n*po_n - pe_num) /
    (n^2 - pe_num) — published as (kappa_num, kappa_den) BIGINTs,
    division left to the reader; no float crosses an engine.

    The majority vote ties break to the SMALLER label (deterministic
    on both engines).  Shape: the guard-caged brute-force shortlist
    (80 probes; production feeds the same aggregate from the IVF
    shortlist), a probe-partitioned vote window over <= 10 rows per
    probe, and label-dimension-sized marginal aggregates."""
    from xero_api_etl_utilities_spark.plans.corpus_extra import (
        probe_knn_shortlist,
    )

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
# X130: tokenizer vocabulary OOV census
# ---------------------------------------------------------------------------

_OOV_VOCAB_SIZE = 1000


def tokenizer_oov_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130: the vocabulary-sizing census — fix the tokenizer's word
    vocabulary at the top-V corpus tokens (by frequency, ties to the
    lexicographically smaller token) and report, per source: token
    occurrences, out-of-vocabulary occurrences, OOV rate (bp) and
    distinct OOV types.  The table that decides V (and flags the
    source whose domain jargon a shared vocabulary will shred into
    UNKs / byte-fallback pieces).

    Scale shape: top-V selection is ``orderBy(...).limit(V)`` — a
    TakeOrderedAndProject (per-partition partial top-V, ~V rows to
    the driver), NEVER a global sort or rank window; the V-row
    vocabulary then broadcasts onto the (source, token) aggregate.
    Both corpus-sized stages are map-side-combinable aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            "source",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = (
        occ.groupBy("tok")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(_OOV_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("_in"))
    )
    return (
        occ.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_occurrences"),
            F.sum(F.when(F.col("_in").isNull(), F.col("n")).otherwise(0)).alias(
                "n_oov"
            ),
            F.sum(
                F.when(F.col("_in").isNull(), 1).otherwise(0)
            ).alias("n_oov_types"),
        )
        .select(
            "source",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.expr("n_oov * 10000 div n_occurrences").alias("oov_bp"),
            F.col("n_oov_types").cast("bigint").alias("n_oov_types"),
        )
        .orderBy("source")
    )


_OOV_ORACLE = f"""
WITH occ AS (
  SELECT source, tok, count(*)::BIGINT AS n
  FROM (SELECT source,
          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
  GROUP BY 1, 2
), vocab AS (
  SELECT tok FROM (
    SELECT tok, sum(n) AS cnt FROM occ GROUP BY tok
  ) ORDER BY cnt DESC, tok ASC LIMIT {_OOV_VOCAB_SIZE}
)
SELECT source, sum(n)::BIGINT AS n_occurrences,
  sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN n ELSE 0 END)::BIGINT
    AS n_oov,
  (sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN n ELSE 0 END)
    * 10000 // sum(n))::BIGINT AS oov_bp,
  sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END)::BIGINT
    AS n_oov_types
FROM occ GROUP BY source ORDER BY source
"""

register("tokenizer_oov_census", tokenizer_oov_census, _OOV_ORACLE)


# ---------------------------------------------------------------------------
# X131: character-entropy census (integer bit arithmetic)
# ---------------------------------------------------------------------------


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: per-document character-distribution entropy, quantized
    to the same float-free ilog2 arithmetic as X120: for a doc of n
    chars with per-char counts c_i, H_mb = sum(c_i * ilog2(n div
    c_i)) * 1000 div n milli-bits per char.  Near-zero entropy flags
    single-char floods / padding artifacts; anomalously high entropy
    flags base64 / binary spills — the two char-level pathologies the
    word-level signals (X120, quality flags) are blind to.

    The per-doc fold needs the doc TOTAL inside every char term's
    ilog2, so the (doc, char) counts collapse to one row per doc
    (collect_list bounded by the charset, ~100 entries) and the
    entropy folds IN-ROW — one aggregation pass, no join back of a
    totals frame.  Shape: one explode to the char grain, one
    (doc, char) aggregate, one doc aggregate, one source census —
    all map-side-combinable, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select(
            "doc_id",
            "source",
            F.explode(F.split(F.col("text"), "")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "source", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc_h = cc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_ch"),
        F.collect_list("c").alias("_cs"),
    )
    scored = doc_h.select(
        "source",
        F.expr(
            "aggregate(_cs, cast(0 as bigint), (acc, c) ->"
            " acc + c * (length(bin(n_ch div c)) - 1)) * 1000 div n_ch"
        ).alias("h_mb"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(h_mb) div count(1)").alias("mean_mb"),
            F.min("h_mb").alias("min_mb"),
            F.max("h_mb").alias("max_mb"),
        )
        .orderBy("source")
    )


_CHAR_ENTROPY_ORACLE = """
WITH cc AS (
  SELECT doc_id, source, ch, count(*)::BIGINT AS c
  FROM (SELECT doc_id, source, unnest(string_split(text, '')) AS ch
        FROM documents)
  WHERE ch <> ''
  GROUP BY 1, 2, 3
), tot AS (
  SELECT doc_id, sum(c)::BIGINT AS n_ch FROM cc GROUP BY 1
), doc_h AS (
  SELECT cc.source,
    sum(c * (length(bin(t.n_ch // c)) - 1)) * 1000 // any_value(t.n_ch)
      AS h_mb
  FROM cc JOIN tot t USING (doc_id)
  GROUP BY cc.doc_id, cc.source
)
SELECT source, count(*)::BIGINT AS n_docs,
  (sum(h_mb) // count(*))::BIGINT AS mean_mb,
  min(h_mb)::BIGINT AS min_mb,
  max(h_mb)::BIGINT AS max_mb
FROM doc_h GROUP BY source ORDER BY source
"""

register("text_char_entropy", text_char_entropy, _CHAR_ENTROPY_ORACLE)


# ---------------------------------------------------------------------------
# X133: RAKE-lite keyword extraction
# ---------------------------------------------------------------------------

_RAKE_TOP = 20
_RAKE_MAX_LEN = 6  # candidate phrases longer than this are discarded


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X133: RAKE (Rose et al. 2010, "Automatic Keyword Extraction
    from Individual Documents") at corpus grain — candidate phrases
    are maximal runs of non-stopword tokens, CAPPED at
    ``_RAKE_MAX_LEN`` words (the paper's practice: longer runs are
    not keywords; on this stopword-sparse synthetic corpus the cap is
    also what keeps the candidate set meaningful — uncapped, most
    "phrases" are near-whole documents); each word scores
    deg(w)/freq(w) (degree = total length of CANDIDATE phrases
    containing it); a phrase scores the sum of its words; the census
    is the corpus's top-20 phrases.  The keyword table a corpus card
    publishes, and the "what is this source about" probe mixture
    designers read.

    Integer exactness: word scores are deg*1000 div freq (milli-
    units), phrase scores sum those — identical `div` both engines.
    Phrase segmentation is a RUNNING COUNT of stopword markers per
    doc (a doc-partitioned window), so the phrase ids — and therefore
    deg/freq — are engine-identical by construction.

    Shape: one explode to the token grain, one doc-partitioned
    running-sum window, one (doc, segment) phrase aggregate, two
    word-dimension aggregates, top-20 via TakeOrdered — no global
    rank window, no joins beyond the word-score broadcast."""
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN

    # r16 negative result (guide §1): BOTH a compute-width repartition
    # of the docs scan and a materialize of the 3-consumer seg frame
    # measured SLOWER here (1.31 → 2.20 s subset A/B at sf0.1) — the
    # exchange + the 1.5M-row string checkpoint cost more than the
    # single-task chain and the branch re-evaluations they remove at
    # this corpus size.  Left on the scan partitioning.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("pos", "tok"),
    ).withColumn(
        "_stop", F.col("tok").isin(*STOPWORDS_EN).cast("int")
    )
    seg = toks.withColumn(
        "seg",
        F.sum("_stop").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).filter(F.col("_stop") == 0)
    phrases = (
        seg.groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    words = seg.join(
        phrases.select("doc_id", "seg", "plen"), ["doc_id", "seg"]
    ).select("tok", "plen")
    scores = words.groupBy("tok").agg(
        F.expr("sum(plen) * 1000 div count(1)").alias("wscore")
    )
    scored = (
        seg.join(F.broadcast(scores), "tok")
        .groupBy("doc_id", "seg")
        .agg(F.sum("wscore").alias("score"))
        .join(phrases, ["doc_id", "seg"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score").alias("score"),
        )
    )
    return (
        scored.select(
            "phrase",
            F.col("score").cast("bigint").alias("score"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(_RAKE_TOP)
    )


def _rake_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos, tk[t.i] AS tok,
    CASE WHEN list_contains([{stoplist}], tk[t.i]) THEN 1 ELSE 0 END AS stp
  FROM (SELECT doc_id,
          regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents),
       unnest(range(1, len(tk) + 1)) AS t(i)
), seg AS (
  SELECT doc_id, pos, tok,
    sum(stp) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM toks
  QUALIFY stp = 0
), phrases AS (
  SELECT doc_id, seg,
    string_agg(tok, ' ' ORDER BY pos) AS phrase,
    count(*)::BIGINT AS plen
  FROM seg GROUP BY doc_id, seg
  HAVING count(*) <= {_RAKE_MAX_LEN}
), scores AS (
  SELECT s.tok, sum(p.plen) * 1000 // count(*) AS wscore
  FROM seg s JOIN phrases p USING (doc_id, seg)
  GROUP BY s.tok
), phrase_scores AS (
  SELECT s.doc_id, s.seg, sum(sc.wscore) AS score
  FROM seg s JOIN scores sc USING (tok)
  GROUP BY s.doc_id, s.seg
)
SELECT p.phrase, CAST(max(ps.score) AS BIGINT) AS score,
  count(*)::BIGINT AS n_occurrences
FROM phrases p JOIN phrase_scores ps USING (doc_id, seg)
GROUP BY p.phrase
ORDER BY score DESC, phrase ASC
LIMIT {_RAKE_TOP}
"""


register("text_rake_keywords", text_rake_keywords, _rake_oracle)


# ---------------------------------------------------------------------------
# X134: overlapped-chunking storage amplification census
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # chunk window (tokens) — sized to this corpus's ~40-80
_CHUNK_S = 24  # token docs so the census exercises the multi-chunk
               # branch at every sf; production uses e.g. (512, 384)


def doc_chunk_overlap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: the RAG-chunking storage planner — sliding chunks of W
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
# X143: bigram-LM conditional surprisal census
# ---------------------------------------------------------------------------


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143: the CONDITIONAL extension of X120 — each bigram (w1, w2)
    costs ilog2(c(w1·) div c(w1 w2)) bits, where c(w1·) counts w1 as
    a bigram PREFIX: low conditional surprisal means the next word is
    predictable from the last (templates, boilerplate), high means
    incoherent word salad — the closest float-free stand-in for a
    real LM perplexity gate, one order up from X120's unigram view.
    Per-source census of doc scores in milli-bits per bigram.

    Same ilog2-via-bin() exactness contract as X120/X131; single-
    space tokenization (the oracle's string_split rule).  Shape: one
    (doc, bigram) aggregate, one bigram-vocab aggregate, one prefix
    aggregate derived FROM the bigram vocab (never a second corpus
    scan), a bigram-keyed equi-join back (vocab-sized build side,
    shuffled not blind-broadcast), one doc aggregate, one source
    census — all map-side-combinable, no windows."""
    # r16 negative result (guide §1): a compute-width repartition of
    # the docs scan measured SLOWER here (1.26 → 1.37–1.49 s subset
    # A/B at sf0.1) — the exchange costs more than the single-task
    # bigram chain saves at this corpus size.  Left as scanned.
    docs = load_table(spark, sf_dir, "documents")
    wdocs = docs.select(
        "doc_id", "source", F.split(F.trim(F.col("text")), " ").alias("_w")
    )
    words = F.col("_w")
    bg = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i.cast("int")), F.element_at(words, i.cast("int") + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        wdocs.select("doc_id", "source", F.explode(bg).alias("b"))
        .groupBy("doc_id", "source", "b")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("b").agg(F.sum("tf").alias("c12"))
    # prefix totals via a w1-PARTITIONED window over the vocab frame —
    # a separate prefix aggregate + join would reference vocab twice
    # and (no cross-branch CSE) re-scan the corpus a third time
    bits = (
        vocab.withColumn("w1", F.split(F.col("b"), " ").getItem(0))
        .withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("w1")).cast("bigint")
        )
        .select(
            "b",
            (F.length(F.bin(F.expr("c1 div c12"))) - 1)
            .cast("bigint")
            .alias("bits"),
        )
    )
    doc_scores = (
        tf.join(bits, "b")
        .groupBy("doc_id", "source")
        .agg(F.expr("sum(tf * bits) * 1000 div sum(tf)").alias("score_mb"))
    )
    return (
        doc_scores.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(score_mb) div count(1)").alias("mean_mb"),
            F.min("score_mb").alias("min_mb"),
            F.max("score_mb").alias("max_mb"),
        )
        .orderBy("source")
    )


_BIGRAM_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, string_split(trim(text), ' ') AS w FROM documents
), bg AS (
  SELECT doc_id, source, w[i] || ' ' || w[i + 1] AS b
  FROM toks, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS t(i)
), tf AS (
  SELECT doc_id, source, b, count(*)::BIGINT AS tf FROM bg GROUP BY 1, 2, 3
), vocab AS (
  SELECT b, sum(tf)::BIGINT AS c12 FROM tf GROUP BY 1
), prefix AS (
  SELECT string_split(b, ' ')[1] AS w1, sum(c12)::BIGINT AS c1
  FROM vocab GROUP BY 1
), bits AS (
  SELECT v.b, (length(bin(p.c1 // v.c12)) - 1)::BIGINT AS bits
  FROM vocab v JOIN prefix p ON string_split(v.b, ' ')[1] = p.w1
), doc_scores AS (
  SELECT doc_id, source, sum(tf * bits) * 1000 // sum(tf) AS score_mb
  FROM tf JOIN bits USING (b)
  GROUP BY 1, 2
)
SELECT source, count(*)::BIGINT AS n_docs,
  (sum(score_mb) // count(*))::BIGINT AS mean_mb,
  min(score_mb)::BIGINT AS min_mb,
  max(score_mb)::BIGINT AS max_mb
FROM doc_scores GROUP BY source ORDER BY source
"""

register("text_bigram_surprisal", text_bigram_surprisal, _BIGRAM_SURPRISAL_ORACLE)


# ---------------------------------------------------------------------------
# X145: source x source lexical-distribution divergence (TVD matrix)
# ---------------------------------------------------------------------------


def text_source_tvd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145: pairwise LEXICAL divergence between sources — the
    total-variation distance between each source pair's unigram
    distributions, in bp: TVD(p, q) = 1/2 * sum_t |p_t - q_t|.  The
    distribution-level complement to X122 (which measures shared
    near-dup CONTENT via LSH buckets): two scrapes can share zero
    documents yet have near-identical word mixes, or share
    boilerplate while differing in topic mix — a mixture designer
    wants both numbers.

    Exact integer lowering: with per-source counts c1, c2 and totals
    N1, N2, TVD_bp = num * 10000 div (2*N1*N2) where num =
    sum_shared |c1_t*N2 - c2_t*N1| + (N1 - S1)*N2 + (N2 - S2)*N1
    (S1/S2 = each side's mass on SHARED tokens) — the two one-sided
    tails come from ALGEBRA on the inner join, never a full-outer on
    the token grain.  Accumulation in decimal(38,0): c*N reaches
    ~1e13 * 1e13 at 100 TB, past bigint (the X102 overflow rule).
    Pairs sharing NO token (TVD exactly 10000) enter via the
    source-dimension pair universe left-joined onto the shared
    aggregate.

    Shape: one corpus scan -> (source, token) aggregate; the pair
    join keys on the TOKEN with fan-out bounded by sources-per-token
    (<= n_sources, ~20 — the X122 bound), totals and the pair
    universe are source-dimension broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            "source",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
                )
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = occ.groupBy("source").agg(F.sum("c").cast("bigint").alias("N"))
    ta = totals.select(F.col("source").alias("src_a"), F.col("N").alias("Na"))
    tb = totals.select(F.col("source").alias("src_b"), F.col("N").alias("Nb"))
    a = occ.select(F.col("source").alias("src_a"), "tok", F.col("c").alias("ca"))
    b = occ.select(F.col("source").alias("src_b"), "tok", F.col("c").alias("cb"))
    d38 = "decimal(38,0)"
    shared = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("ca").cast(d38) * F.col("Nb")
                    - F.col("cb").cast(d38) * F.col("Na")
                )
            ).alias("d_shared"),
            F.sum("ca").cast("bigint").alias("s_a"),
            F.sum("cb").cast("bigint").alias("s_b"),
        )
    )
    universe = (
        ta.crossJoin(tb)
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(shared), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "Na",
            "Nb",
            F.coalesce(F.col("d_shared"), F.lit(0).cast(d38)).alias("d_shared"),
            F.coalesce(F.col("s_a"), F.lit(0)).alias("s_a"),
            F.coalesce(F.col("s_b"), F.lit(0)).alias("s_b"),
        )
    )
    num = (
        F.col("d_shared")
        + (F.col("Na") - F.col("s_a")).cast(d38) * F.col("Nb")
        + (F.col("Nb") - F.col("s_b")).cast(d38) * F.col("Na")
    )
    den = F.lit(2).cast(d38) * F.col("Na") * F.col("Nb")
    return (
        universe.withColumn("_num", num)
        .withColumn("_den", den)
        .select(
            "src_a",
            "src_b",
            F.expr("CAST(_num * 10000 div _den AS BIGINT)").alias("tvd_bp"),
        )
        .orderBy("src_a", "src_b")
    )


_SOURCE_TVD_ORACLE = """
WITH occ AS (
  SELECT source, tok, count(*)::BIGINT AS c
  FROM (SELECT source,
          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
  GROUP BY 1, 2
), totals AS (
  SELECT source, sum(c)::BIGINT AS N FROM occ GROUP BY 1
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
    sum(abs(CAST(a.c AS HUGEINT) * tb.N - CAST(b.c AS HUGEINT) * ta.N))
      AS d_shared,
    sum(a.c)::BIGINT AS s_a, sum(b.c)::BIGINT AS s_b
  FROM occ a
  JOIN occ b ON a.tok = b.tok AND a.source < b.source
  JOIN totals ta ON ta.source = a.source
  JOIN totals tb ON tb.source = b.source
  GROUP BY 1, 2
), universe AS (
  SELECT ta.source AS src_a, tb.source AS src_b, ta.N AS Na, tb.N AS Nb,
    coalesce(s.d_shared, 0) AS d_shared,
    coalesce(s.s_a, 0) AS s_a, coalesce(s.s_b, 0) AS s_b
  FROM totals ta
  JOIN totals tb ON ta.source < tb.source
  LEFT JOIN shared s ON s.src_a = ta.source AND s.src_b = tb.source
)
SELECT src_a, src_b,
  CAST((d_shared + CAST(Na - s_a AS HUGEINT) * Nb
        + CAST(Nb - s_b AS HUGEINT) * Na) * 10000
       // (CAST(2 AS HUGEINT) * Na * Nb) AS BIGINT) AS tvd_bp
FROM universe ORDER BY src_a, src_b
"""

register("text_source_tvd_matrix", text_source_tvd_matrix, _SOURCE_TVD_ORACLE)
