"""Text catalog queries: the ``text_`` and ``tokenizer_`` families.

Normalization, PII masking, language id, quality rule packs and a
learned quality classifier, repetition and n-gram statistics,
posting lists, tf-idf and BM25 retrieval, BPE merges and encoding,
exact-substring span deduplication, and corpus-level drift censuses
over the ``documents`` table.  No reference counterpart (the
reference ETL has no text tier).  Regex patterns are RE2-safe and
shared verbatim with the DuckDB twins, and every hashed value is an
integer; no float log or division crosses an engine.

``span_dedup_frame`` and ``drift_counted`` are the substrates the
curation family reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators import textnorm as tn
from xero_api_etl_utilities_spark.operators import textstats as tx
from xero_api_etl_utilities_spark.operators.litfold import lit_longs
from xero_api_etl_utilities_spark.operators.materialize import (
    compute_width,
    materialize,
    session_memo,
)
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token/char-class counts and integer-ratio
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
    """Language ID: marker-word heuristic, argmax hits with
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


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
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
    """Fingerprinting: md5 content identity (the partial-overlap
    rolling-hash variant is dedup_simhash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))


register(
    "text_fingerprint",
    text_fingerprint,
    "SELECT doc_id, md5(text) AS fingerprint FROM documents",
)


# --------------------------------------------------------------------------
# normalization + masking
# --------------------------------------------------------------------------

def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form (lowercase, control→space, whitespace
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
    """PII redaction (emails → [EMAIL], ≥9-digit ids → [ID],
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


def text_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model-ish quality signal without a model — each
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
    """Inverted-index build — the top-20 terms by document
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
    """The hashing-trick vectorizer (Weinberger et al.) — each
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


def text_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document — tf-idf's
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


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by term frequency (ties → lexical) —
    the TF half of TF-IDF feature extraction. Explode → count →
    per-doc window top-k: one shuffle on (doc, term), one on doc."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.col("tf").cast("bigint").alias("tf"),
                F.col("rank").cast("int").alias("rank"))
    )


register(
    "text_top_terms",
    text_top_terms,
    """
WITH tf AS (
  SELECT doc_id, t.term AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
  GROUP BY doc_id, t.term
), ranked AS (
  SELECT doc_id, term, tf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank
  FROM tf
)
SELECT doc_id, term, tf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
""",
)


def text_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency per term plus the corpus size — the IDF half
    of TF-IDF (kept as exact integers; consumers compute idf floats
    downstream where no cross-engine hash needs to agree). Explode
    distinct terms per doc → one count per term; map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one cheap scalar job, inlined as a literal
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
                )
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("term", F.col("df").cast("bigint").alias("df"),
                F.lit(n_docs).cast("bigint").alias("n_docs"))
    )


register(
    "text_doc_frequency",
    text_doc_frequency,
    """
WITH per_doc AS (
  SELECT DISTINCT doc_id, t.term AS term
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
FROM per_doc GROUP BY term
""",
)


def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-typicality scoring — the data flow of perplexity-based
    quality filtering (CCNet/Gopher-style) with the LM lookup kept
    integer-exact: each document's tokens join the corpus unigram
    table (the "language model") and aggregate to n_tokens, the sum
    of global term counts (high = typical), and the rarest token's
    corpus count (low = contains rare/garbage tokens). Downstream
    float surprisal math is the consumer's business — no float
    crosses the oracle hash.

    The unigram join is deliberately NOT a forced broadcast: a
    web-scale heavy-tail vocabulary runs to 10⁸+ terms, past any
    broadcast budget — AQE broadcasts when the table is actually
    small (it is here) and falls back to a shuffle hash join on the
    term key when it is not."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    ctf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.join(ctf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("c").cast("bigint").alias("typicality"),
            F.min("c").cast("bigint").alias("rarest_ctf"),
        )
    )


register(
    "text_rarity",
    text_rarity,
    """
WITH toks AS (
  SELECT doc_id, t.term AS term
  FROM documents, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t(term)
), ctf AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(c) AS BIGINT) AS typicality,
  CAST(MIN(c) AS BIGINT) AS rarest_ctf
FROM toks JOIN ctf USING (term)
GROUP BY doc_id
""",
)


BM25_TERMS = ["spark", "window", "merge"]
BM25_K = 10


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule pack over documents: five
    independent boolean rules (word-count bounds, mean-word-length
    bounds, symbol ratio, alpha-word fraction, distinct stopwords)
    plus the conjunction. One zero-shuffle scan projection; every
    threshold is integer cross-multiplied so the oracle hash is
    float-free."""
    from xero_api_etl_utilities_spark.operators.textstats import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    r = gopher_rules(F.col("text"))
    keep = (
        r["rule_word_count"]
        & r["rule_mean_word_len"]
        & r["rule_symbol_ratio"]
        & r["rule_alpha_words"]
        & r["rule_stopwords"]
    )
    return docs.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        r["n_stop_distinct"].alias("n_stop_distinct"),
        r["rule_word_count"].alias("rule_word_count"),
        r["rule_mean_word_len"].alias("rule_mean_word_len"),
        r["rule_symbol_ratio"].alias("rule_symbol_ratio"),
        r["rule_alpha_words"].alias("rule_alpha_words"),
        r["rule_stopwords"].alias("rule_stopwords"),
        keep.alias("keep"),
    )


_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_word_chars,
    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words,
    CAST((length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS n_symbols,
    CAST(len(list_intersect(list_distinct(toks),
         ['the','a','and','of','to','in','is','it','for','on'])) AS BIGINT) AS n_stop_distinct,
    CAST(greatest(len(toks), 1) AS BIGINT) AS w
  FROM t
)
SELECT doc_id, n_words, n_stop_distinct,
  (n_words >= 30 AND n_words <= 500) AS rule_word_count,
  (3 * w <= COALESCE(n_word_chars, 0) AND COALESCE(n_word_chars, 0) <= 10 * w) AS rule_mean_word_len,
  (10 * n_symbols <= 1 * w) AS rule_symbol_ratio,
  (5 * n_alpha_words >= 4 * n_words) AS rule_alpha_words,
  (n_stop_distinct >= 2) AS rule_stopwords,
  ((n_words >= 30 AND n_words <= 500)
   AND (3 * w <= COALESCE(n_word_chars, 0) AND COALESCE(n_word_chars, 0) <= 10 * w)
   AND (10 * n_symbols <= 1 * w)
   AND (5 * n_alpha_words >= 4 * n_words)
   AND (n_stop_distinct >= 2)) AS keep
FROM m
"""

register("text_gopher_rules", text_gopher_rules, _GOPHER_ORACLE)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the fixed query {spark, window, merge}.
    Corpus constants (N, avgdl, per-term df→idf) come from ONE bounded
    aggregate and inline as literals, so `ln` never runs inside either
    engine and the oracle's IEEE expression tree is bit-identical.
    Scoring is a zero-shuffle projection (per-term tf via higher-order
    array filter — no explode); top-k is TakeOrdered, never a global
    window over the corpus."""
    from xero_api_etl_utilities_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=BM25_K)


def _bm25_score_exprs() -> tuple[str, str]:
    """(score_expr, tf_total_expr) for the DuckDB twin: recompute the
    SAME constants from the parquet via duckdb + the same python
    math.log, inline them, and mirror the Spark expression tree
    literal-for-literal, paren-for-paren. Shared by the bm25 oracle
    and the two-stage rerank oracle (identical stage-1 shortlist)."""
    import math
    import os as _os

    import duckdb

    sf_dir = oracle_sf_dir()
    path = _os.path.join(sf_dir, "documents.parquet")
    con = duckdb.connect()
    df_cols = ", ".join(
        f"SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    row = con.execute(
        f"""
        WITH t AS (
          SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM '{path}'
        )
        SELECT COUNT(*) AS n, SUM(len(toks)) AS sum_dl, {df_cols} FROM t
        """
    ).fetchone()
    n, sum_dl, dfs = int(row[0]), int(row[1]), [int(x) for x in row[2:]]
    k1, b = 1.2, 0.75
    avgdl = sum_dl / n
    c_tf, c_fixed, c_len = k1 + 1.0, k1 * (1.0 - b), k1 * b
    idf = [math.log(1.0 + (n - d + 0.5) / (d + 0.5)) for d in dfs]
    # mirror: score = ((t0 + t1) + t2), term_i = idf_i * ((tf*C_TF) /
    # (tf + (C_FIXED + C_LEN * (dl / AVGDL))))
    terms = []
    tfs = []
    for i, t in enumerate(BM25_TERMS):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        tfs.append(tf)
        terms.append(
            f"({idf[i]!r} * (({tf} * {c_tf!r}) / ({tf} + ({c_fixed!r} + {c_len!r}"
            f" * (CAST(len(toks) AS DOUBLE) / {avgdl!r})))))"
        )
    return " + ".join(terms), " + ".join(tfs)


def _bm25_oracle() -> str:
    score, tf_total = _bm25_score_exprs()
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, {score} AS s
  FROM t
  WHERE {tf_total} > 0
), ranked AS (
  SELECT doc_id, s,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, ROUND(s, 6) AS score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {BM25_K}
"""


register("text_bm25_topk", text_bm25_topk, _bm25_oracle)


RERANK_SHORTLIST = 50
RERANK_K = 10


def text_retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: a cheap BM25 shortlist (top-50),
    then a second-stage re-rank over the shortlist only — the lexical
    twin of the IVF-PQ refine lesson (PLANS.md: a coarse stage's job
    is RECALL; precision comes from a bounded re-rank). Stage 2 keys
    on INTEGER evidence (distinct query terms matched, then total
    term frequency, then doc id), so the published columns are exact
    while the float BM25 score stays internal to stage 1 — whose
    shortlist boundary the oracle replays bit-exactly via the shared
    inlined-literal expression tree. Stage-2 cost is shortlist-sized:
    the candidate ids broadcast back for the feature fetch, the
    corpus is never re-scored."""
    from xero_api_etl_utilities_spark.operators.retrieval import (
        TOKEN_PATTERN,
        bm25_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    short = bm25_topk(docs, BM25_TERMS, k=RERANK_SHORTLIST).select("doc_id")
    cand = docs.join(F.broadcast(short), "doc_id")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_PATTERN), 0)
    base = cand.select("doc_id", toks.alias("_toks"))
    n_match = None
    tf_total = None
    for t in BM25_TERMS:
        present = F.array_contains("_toks", t).cast("long")
        tf = F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("long")
        n_match = present if n_match is None else n_match + present
        tf_total = tf if tf_total is None else tf_total + tf
    from pyspark.sql import Window as W

    reranked = base.select(
        "doc_id",
        n_match.alias("n_terms_matched"),
        tf_total.alias("tf_total"),
    )
    top = (
        reranked.orderBy(
            F.desc("n_terms_matched"), F.desc("tf_total"), F.asc("doc_id")
        )
        .limit(RERANK_K)
        .repartition(1)
    )
    w = W.orderBy(F.desc("n_terms_matched"), F.desc("tf_total"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "n_terms_matched",
        "tf_total",
        F.row_number().over(w).cast("int").alias("rerank"),
    )


def _rerank_oracle() -> str:
    score, tf_total = _bm25_score_exprs()
    n_match = " + ".join(
        f"CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END"
        for t in BM25_TERMS
    )
    tf_int = " + ".join(
        f"len(list_filter(toks, x -> x = '{t}'))" for t in BM25_TERMS
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), scored AS (
  SELECT doc_id, toks, {score} AS s
  FROM t
  WHERE {tf_total} > 0
), shortlist AS (
  SELECT doc_id, toks,
         row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r1
  FROM scored
), reranked AS (
  SELECT doc_id,
    CAST({n_match} AS BIGINT) AS n_terms_matched,
    CAST({tf_int} AS BIGINT) AS tf_total,
    row_number() OVER (ORDER BY ({n_match}) DESC, ({tf_int}) DESC, doc_id ASC)
      AS rerank
  FROM shortlist WHERE r1 <= {RERANK_SHORTLIST}
)
SELECT doc_id, n_terms_matched, tf_total, CAST(rerank AS INT) AS rerank
FROM reranked WHERE rerank <= {RERANK_K}
"""


register("text_retrieve_rerank", text_retrieve_rerank, _rerank_oracle)


# ---------------------------------------------------------------------------
# BPE merge training
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 4

# trained merges feed TWO catalog consumers (the merge table ``text_bpe_merges`` and
# the encode census ``text_bpe_encode``), so the driver-looped training runs once per
# session
@session_memo("bpe_merges")
def _trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    from xero_api_etl_utilities_spark.operators.bpe import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merges(docs, rounds=_BPE_ROUNDS)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first ``_BPE_ROUNDS`` byte-pair-encoding merges learned
    from the document corpus — tokenizer training as a catalog query
    (operators/bpe.py: corpus-sized tokenize+count once, then a
    vocabulary-sized pair-count + in-row greedy fold per round; the
    winning rule is a 1-row driver scalar that parameterizes the next
    round's plan, the IVF-centroid pattern).  The oracle replays ALL
    rounds in DuckDB — pair counting as a positional self-join and
    greedy non-overlapping application as a gaps-and-islands
    selection (runs of marked positions keep alternate members) — a
    deliberately DIFFERENT lowering of the same greedy semantics, so
    agreement is evidence about the algorithm, not the plan.  Ties
    break (count DESC, left ASC, right ASC); every output value is a
    string or integer, hash-exact."""
    rows = _trained_merges(spark, sf_dir)
    return spark.createDataFrame(
        rows, "round int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("round")


def _bpe_cte_chain() -> tuple[str, str]:
    """The shared training-replay CTE chain: returns (WITH-body SQL
    ending at the round-``_BPE_ROUNDS`` vocabulary state, final CTE
    name).  ``syms{K}``'s (w, freq, pos, sym) rows ARE the encoded
    vocabulary — the ``text_bpe_merges`` oracle unions the per-round winners off it,
    the ``text_bpe_encode`` oracle aggregates symbol counts off it."""
    parts = [
        """
WITH words AS (
  SELECT t.w AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents) t
  GROUP BY t.w
),
syms0 AS (
  SELECT w, freq, CAST(i AS BIGINT) AS pos, s[i] AS sym
  FROM (SELECT w, freq, regexp_extract_all(w, '.') AS s FROM words) t,
       UNNEST(range(1, len(s) + 1)) AS r(i)
)"""
    ]
    prev = "syms0"
    for k in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
pc{k} AS (
  SELECT a.sym AS l, b.sym AS r, SUM(a.freq) AS cnt
  FROM {prev} a JOIN {prev} b ON a.w = b.w AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
best{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
marked{k} AS (
  SELECT s.w, s.freq, s.pos, s.sym,
    CASE WHEN s.sym = (SELECT l FROM best{k})
          AND lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos)
              = (SELECT r FROM best{k})
         THEN 1 ELSE 0 END AS m
  FROM {prev} s
),
sel{k} AS (
  SELECT w, freq, pos, sym, m,
    CASE WHEN m = 1 AND (pos - MIN(pos) OVER (PARTITION BY w, m, grp)) % 2 = 0
         THEN 1 ELSE 0 END AS sel
  FROM (
    SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, m ORDER BY pos) AS grp
    FROM marked{k}
  ) t
),
syms{k} AS (
  SELECT w, freq,
    CAST(ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos,
    CASE WHEN sel = 1
         THEN (SELECT l FROM best{k}) || (SELECT r FROM best{k})
         ELSE sym END AS sym
  FROM (
    SELECT *, COALESCE(lag(sel) OVER (PARTITION BY w ORDER BY pos), 0)
              AS prev_sel
    FROM sel{k}
  ) t
  WHERE prev_sel = 0
)"""
        )
        prev = f"syms{k}"
    return "".join(parts), prev


def _bpe_oracle() -> str:
    chain, _final = _bpe_cte_chain()
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS round, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM best{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
    return f"{chain}\n{union}\nORDER BY round"


register("text_bpe_merges", text_bpe_merges, _bpe_oracle)


# ---------------------------------------------------------------------------
# BPE ENCODE census — apply the trained merges to the corpus
# ---------------------------------------------------------------------------


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY census — the corpus re-encoded under
    the ``text_bpe_merges``-trained merges, per source: whitespace-token count, BPE
    symbol count, and the expansion ratio in rounded basis points
    (10000 = one symbol per token).  The number a tokenizer team reads
    before accepting a merge table: which sources blow up under the
    vocabulary and which compress.

    Lowering (the training split, inverted): encoding is applied to
    the VOCABULARY frame (distinct words — orders of magnitude under
    the corpus), one in-row greedy fold per merge in rank order (the
    exact ``operators/bpe._apply_merge`` semantics training used, so
    encode(w) == training's final state for w); the corpus-sized work
    is one tokenize explode + a BROADCAST join against the encoded
    vocabulary + one aggregate.  Trained merges come from the
    memoized once-per-session ``_trained_merges``.

    The oracle reuses the ``text_bpe_merges`` training-replay CTE chain verbatim —
    its final ``syms{K}`` state IS the encoded vocabulary — so hash
    equality proves Spark's fold-encode equals the positional
    gaps-and-islands replay, word for word, then corpus-weighted.
    Integer everywhere; expansion_bp = (20000*bpe + ws) div (2*ws)."""
    from xero_api_etl_utilities_spark.operators.bpe import (
        _apply_merge,
        word_symbol_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = word_symbol_frame(docs)
    for _k, left, right, _cnt in _trained_merges(spark, sf_dir):
        vocab = _apply_merge(vocab, left, right)
    enc = vocab.select("w", F.size("syms").cast("bigint").alias("n_syms"))
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("w"),
    )
    return (
        toks.join(F.broadcast(enc), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ws_tokens"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "source",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.expr(
                "CAST((20000 * n_bpe_tokens + n_ws_tokens)"
                " div (2 * n_ws_tokens) AS BIGINT)"
            ).alias("expansion_bp"),
        )
        .orderBy("source")
    )


def _bpe_encode_oracle() -> str:
    chain, final = _bpe_cte_chain()
    return f"""{chain},
enc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_syms FROM {final} GROUP BY w
),
toks AS (
  SELECT source, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
  CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens,
  CAST((20000 * CAST(SUM(n_syms) AS BIGINT) + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) AS expansion_bp
FROM toks JOIN enc USING (w)
GROUP BY source
ORDER BY source
"""


register("text_bpe_encode", text_bpe_encode, _bpe_encode_oracle)


# ---------------------------------------------------------------------------
# sparse TF-cosine similarity join via inverted index
# ---------------------------------------------------------------------------


def text_tf_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_df_bp: int = 500,
    max_df_floor: int = 256,
) -> DataFrame:
    """Document pairs whose term-frequency vectors have cosine
    >= 0.95, computed over the SPARSE vocabulary representation — the
    inverted-index twin of ``dedup_embedding_cosine`` (dense floats)
    and ``dedup_ngram_jaccard`` (sets).

    cos(a,b) = dot/(|a||b|) >= t  <=>  10000*dot^2 >= (10000*t^2) *
    n2a * n2b when dot >= 0 (term frequencies are non-negative, so it
    always is) — all integers, no sqrt, no float division, hence a
    digit-exact oracle.  t = 0.95 -> 10000*dot^2 >= 9025*n2a*n2b.

    Shape: tf build is one (doc, token) aggregate; the dot product is
    a posting-list self-join keyed on the TOKEN, quadratic only within
    one token's posting list.  The df guard makes that bound a
    guarantee (the LSH stop-bucket pattern), and it is RELATIVE:
    tokens in more than max(``max_df_floor``, ``max_df_bp``/10000 of
    the corpus) docs are dropped before the join.  An absolute cap
    bounds nothing as n_docs grows past it and prunes nothing on a
    saturated vocabulary below it (a 100k cap left this corpus's
    Σdf² ≈ 4.5e8 near-dense join, 128.7 s at sf0.1); a relative cap
    bounds the join at Σdf² <= V·(5%·n)² on ANY
    vocabulary — a token present in >5% of documents carries ~no
    cosine signal per pair (it is a stopword by definition).  The
    corpus-size threshold rides a 1-row broadcast, and the guard is
    MIRRORED into the oracle (same HAVING against the same scalar
    subquery) so the two sides stay equal at every sf — an asymmetric
    guard is a silent divergence waiting for scale.

    Measured: on this corpus the cap drops the 31 saturated filler
    words (df ~ 0.78·n_docs each) and keeps the long tail of rare
    content tokens — 7.4 s at sf0.1 with 31k genuine high-cosine pairs
    surviving.  The two parameters exist so a test can force the cap
    to one document and see the guard act.  Overflow: with
    near-distinct words tf ~ 1, so dot <= n2 ~ L and the hashed
    predicate 10^4·dot² stays under 2^63 until L ~ 3e7 tokens per
    document; repetitive docs (tf ~ L) trip it around L ~ 5e3 —
    at that point widen the predicate to decimal(38,0)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    live = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.greatest(
                F.lit(max_df_floor).cast("bigint"),
                F.expr(f"_n * {max_df_bp} div 10000"),
            )
        )
        .select("tok")
    )
    tf = tf.join(F.broadcast(live), "tok", "left_semi")
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = tf.select(F.col("doc_id").alias("d1"), "tok", F.col("tf").alias("tf1"))
    b = tf.select(F.col("doc_id").alias("d2"), F.col("tok").alias("tok2"), F.col("tf").alias("tf2"))
    dots = (
        a.join(
            b, (F.col("tok") == F.col("tok2")) & (F.col("d1") < F.col("d2"))
        )
        .groupBy("d1", "d2")
        .agg(F.sum(F.col("tf1") * F.col("tf2")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("d1"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("d2"), F.col("n2").alias("n2b"))
    return (
        dots.join(F.broadcast(na), "d1")
        .join(F.broadcast(nb), "d2")
        .filter(
            F.lit(10000) * F.col("dot") * F.col("dot")
            >= F.lit(9025) * F.col("n2a") * F.col("n2b")
        )
        .select("d1", "d2", "dot", "n2a", "n2b")
        .orderBy("d1", "d2")
    )


def _tf_cosine_oracle() -> str:
    # the RELATIVE df guard appears HERE too — both engines drop the
    # same hot tokens before norms/dots, so they agree at any scale
    return f"""
WITH tf0 AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY 1, 2
), live AS (
  SELECT tok FROM tf0 GROUP BY tok
  HAVING count(*) <= greatest(256,
    (SELECT count(*) FROM documents) * 500 // 10000)
), tf AS (
  SELECT tf0.* FROM tf0 JOIN live USING (tok)
), norms AS (
  SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM tf GROUP BY 1
), dots AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.tf * b.tf)::BIGINT AS dot
  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, dot, na.n2 AS n2a, nb.n2 AS n2b
FROM dots
JOIN norms na ON d1 = na.doc_id
JOIN norms nb ON d2 = nb.doc_id
WHERE 10000 * dot * dot >= 9025 * na.n2 * nb.n2
ORDER BY d1, d2
"""


register("text_tf_cosine_pairs", text_tf_cosine_pairs, _tf_cosine_oracle)


# ---------------------------------------------------------------------------
# boilerplate shingle share (within-corpus repeated n-grams)
# ---------------------------------------------------------------------------


def text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share of "boilerplate" shingle mass, in bp.

    CCNet removes lines repeated across documents; this corpus has no
    line structure (single-line word streams), so the unit is the word
    3-gram shingle: a shingle OCCURRING in >= 5 DISTINCT
    documents is boilerplate (headers, footers, nav chrome at web
    scale).  Per source we publish total shingle occurrences, how many
    of them are boilerplate, and the share in bp — the "how much of
    this source is template chrome" curation signal, complementing
    ``decontaminate_ngrams`` (cross-corpus) and ``text_repetition``
    (within-doc).

    Shape: shingles are a zero-shuffle scan projection (transform over
    the split array — in-row, no explode-then-window); df is one
    shingle-keyed aggregate over the DISTINCT (doc, shingle) frame;
    the boilerplate set (151 shingles at sf0.01; bounded by corpus
    repetitiveness, not corpus size, since df >= 5 of ~uniform text is
    rare) broadcasts back onto the occurrence frame as a semi-join-
    shaped flag.  Two shuffles total, both on shingle strings."""
    docs = load_table(spark, sf_dir, "documents")
    # the words ARRAY must be materialized as a column BEFORE the
    # transform: an inline split() referenced from the lambda is
    # re-evaluated per element_at — 3 regex splits per shingle
    # (measured 7.9 s -> 1.9 s warm at sf0.1 for this one projection)
    wdocs = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    words = F.col("_w")

    def shingle(i):
        # string concatenation must be concat_ws, not `+` (Spark lowers
        # `+` to numeric Add -> DATATYPE_MISMATCH on strings)
        return F.concat_ws(" ", *[F.element_at(words, i + k) for k in range(3)])

    # docs shorter than 3 words contribute ZERO shingles: the guard must
    # be on the sequence itself — sequence(1, 0) yields the DESCENDING
    # [1, 0] (element_at(words, 0) then errors), so short docs take the
    # empty-array branch and explode() drops them, matching the oracle's
    # empty range(1, 1).
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 3 + 1)
    ).otherwise(F.array().cast("array<int>"))
    occ = wdocs.select(
        "doc_id",
        "source",
        F.explode(F.transform(idx, lambda i: shingle(i.cast("int")))).alias("s"),
    )
    boiler = (
        occ.select("doc_id", "s")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 5)
        .select("s")
    )
    flagged = occ.join(
        F.broadcast(boiler.withColumn("_b", F.lit(1))), "s", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            "source",
            "n_shingles",
            F.col("n_boiler").cast("bigint").alias("n_boiler"),
            F.expr("n_boiler * 10000 div n_shingles").alias("boiler_bp"),
        )
        .orderBy("source")
    )


def _boiler_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), occ AS (
  SELECT doc_id, source,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS s
  FROM toks, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)
), boiler AS (
  SELECT s FROM (SELECT DISTINCT doc_id, s FROM occ)
  GROUP BY s HAVING count(*) >= 5
)
SELECT source, count(*)::BIGINT AS n_shingles,
       count(*) FILTER (s IN (SELECT s FROM boiler))::BIGINT AS n_boiler,
       (count(*) FILTER (s IN (SELECT s FROM boiler)) * 10000)
         // count(*) AS boiler_bp
FROM occ GROUP BY source ORDER BY source
"""


register(
    "text_boilerplate_shingles", text_boilerplate_shingles, _boiler_oracle
)


# ---------------------------------------------------------------------------
# exact-substring duplication coverage (Lee et al. 2022 census)
# ---------------------------------------------------------------------------


def text_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token mass covered by LONG duplicated spans.

    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022) removes exact substrings of >= 50 BPE tokens that recur
    anywhere in the corpus; the census that motivates the pass is this
    query: for each source, how many documents contain at least one
    duplicated long span, and what fraction of the source's TOKEN MASS
    those spans cover.  Word 6-grams stand in for the
    50-token threshold at toy scale.  Distinct from
    ``text_boilerplate_shingles`` (which counts df>=5 3-gram
    *occurrences*) in both unit and semantics: a span is duplicated
    iff it occurs in >= 2 DISTINCT documents (min(doc_id) <>
    max(doc_id) — cheaper than a count-distinct and exact for the
    >= 2 predicate; within-doc repetition is ``text_repetition``'s
    business), and overlapping spans are UNION-merged per document so
    covered tokens are never double-counted.

    The union length needs no islands pass: spans arrive sorted by
    start position, so each row's newly covered tokens are
    ``greatest(0, end - greatest(running_max_prev_end, pos-1))`` — the
    running max over the preceding frame is the only window, and it is
    partitioned per document over duplicated spans only.

    Scale shape: spans shuffle as 8-byte cross-engine md5-64 hashes
    (functions/crosshash.py), never as span strings; df is one
    hash-keyed aggregate with map-side partial min/max; the hit set
    semi-joins back on the same 8-byte key; the coverage window is
    doc-sized.  All linear in corpus tokens — the known O(n) span
    profile, vs the suffix-array construction the paper uses
    single-node.  Hash collisions (~2^-64 per pair) can only create a
    false duplicate flag, and the oracle replays the identical hash,
    so the check is bit-exact."""
    from xero_api_etl_utilities_spark.functions.crosshash import h64
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # materialize the words array BEFORE the shingle transform
    # (lambda-CSE trap, see text_boilerplate_shingles)
    wdocs = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    # spans feeds BOTH the dup aggregate and the semi-join — without
    # a materialize the corpus-wide posexplode + md5-64 projection
    # runs twice per query
    spans = materialize(
        wdocs.select(
            "doc_id",
            "source",
            F.posexplode(token_ngrams(F.col("_w"), 6)).alias("pos", "_s"),
        ).select("doc_id", "source", "pos", h64(F.col("_s")).alias("h"))
    )
    dup = (
        spans.groupBy("h")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("h")
    )
    hits = spans.join(dup, "h", "leftsemi")
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_end = F.max(F.col("pos") + 5).over(prev)
    newly = F.greatest(
        F.lit(0),
        (F.col("pos") + 5)
        - F.greatest(F.coalesce(run_end, F.lit(-1)), F.col("pos") - 1),
    )
    per_doc = (
        hits.withColumn("_cov", newly)
        .groupBy("doc_id", "source")
        .agg(F.sum("_cov").cast("bigint").alias("covered"))
    )
    by_src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("dup_docs"),
        F.sum("covered").alias("covered_tokens"),
    )
    tot = wdocs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_w").cast("bigint")).alias("total_tokens"),
    )
    return (
        tot.join(by_src, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("dup_docs"), F.lit(0)).cast("bigint").alias(
                "dup_docs"
            ),
            "total_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
            F.expr("coalesce(covered_tokens, 0) * 10000 div total_tokens")
            .cast("bigint")
            .alias("covered_bp"),
        )
        .orderBy("source")
    )


def _dup_span_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import (
        h64_hi_sql,
        h64_lo_sql,
        signed64_sql,
    )

    h = signed64_sql(h64_hi_sql("s"), h64_lo_sql("s"))
    return f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), raw AS (
  SELECT doc_id, source, i - 1 AS pos,
         array_to_string(w[i:i + 5], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS t(i)
), spans AS (
  SELECT doc_id, source, pos, {h} AS h FROM raw
), dup AS (
  SELECT h FROM spans GROUP BY h HAVING min(doc_id) <> max(doc_id)
), cov AS (
  SELECT doc_id, source,
    greatest(0, pos + 5 - greatest(coalesce(max(pos + 5) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1),
      pos - 1)) AS c
  FROM spans WHERE h IN (SELECT h FROM dup)
), per_doc AS (
  SELECT doc_id, source, sum(c) AS covered FROM cov GROUP BY 1, 2
), by_src AS (
  SELECT source, count(*)::BIGINT AS dup_docs,
         sum(covered)::BIGINT AS covered_tokens
  FROM per_doc GROUP BY source
), tot AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len(w))::BIGINT AS total_tokens
  FROM toks GROUP BY source
)
SELECT t.source, t.n_docs,
  coalesce(b.dup_docs, 0)::BIGINT AS dup_docs,
  t.total_tokens,
  coalesce(b.covered_tokens, 0)::BIGINT AS covered_tokens,
  CAST(coalesce(b.covered_tokens, 0) * 10000 // t.total_tokens AS BIGINT)
    AS covered_bp
FROM tot t LEFT JOIN by_src b USING (source) ORDER BY source
"""


register("text_dup_span_coverage", text_dup_span_coverage, _dup_span_oracle)


# ---------------------------------------------------------------------------
# Zipf-head vocabulary coverage per source
# ---------------------------------------------------------------------------


def text_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source share (bp) of token mass covered by the
    corpus-global top-8 tokens — the Zipf-head census. A source whose
    head share is far above the corpus norm is template/boilerplate
    heavy; far below suggests tokenizer-hostile or non-prose content.
    (The head size is 8 because the synthetic corpus has a ~31-word
    vocabulary; on a real corpus the same plan runs with top-1k.)

    Shape: ONE explode scan aggregated to (source, token) counts —
    the only data-sized shuffle, with map-side combine; the global
    counts, the top-8 selection, and the per-source rollup all derive
    from that vocabulary-dimension-sized frame. The head set joins
    back by broadcast, so nothing data-sized shuffles twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top8 = (
        st.groupBy("token")
        .agg(F.sum("c").alias("gc"))
        .orderBy(F.desc("gc"), F.asc("token"))
        .limit(8)
        .select("token")
    )
    flagged = st.join(
        F.broadcast(top8.withColumn("_head", F.lit(1))), "token", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("_head") == 1, F.col("c")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("head_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "head_tokens",
            F.expr("head_tokens * 10000 div n_tokens")
            .cast("bigint")
            .alias("head_bp"),
        )
        .orderBy("source")
    )


register(
    "text_head_coverage",
    text_head_coverage,
    """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), st AS (
  SELECT source, token, count(*) AS c FROM tok WHERE token <> ''
  GROUP BY source, token
), top8 AS (
  SELECT token FROM (
    SELECT token, sum(c) AS gc FROM st GROUP BY token
  ) ORDER BY gc DESC, token ASC LIMIT 8
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM top8) THEN c
                ELSE 0 END) AS BIGINT) AS head_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM top8) THEN c
                ELSE 0 END) * 10000
            // sum(c) AS BIGINT) AS head_bp
FROM st GROUP BY source ORDER BY source
""",
)


# ---------------------------------------------------------------------------
# unigram-LM surprisal scoring (integer bit arithmetic)
# ---------------------------------------------------------------------------


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity-proxy quality filter — score every
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
# winnowing fingerprint census (Schleimer et al., MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # word k-gram size
_WINNOW_W = 4  # winnowing window (w consecutive k-gram hashes)


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003) —
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
# Zipf slope via integer OLS on ilog2 scales
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
# tokenizer vocabulary OOV census
# ---------------------------------------------------------------------------

_OOV_VOCAB_SIZE = 1000


def tokenizer_oov_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary-sizing census — fix the tokenizer's word
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
# character-entropy census (integer bit arithmetic)
# ---------------------------------------------------------------------------


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy, quantized
    to the same float-free ilog2 arithmetic as ``text_unigram_logprob``: for a doc of n
    chars with per-char counts c_i, H_mb = sum(c_i * ilog2(n div
    c_i)) * 1000 div n milli-bits per char.  Near-zero entropy flags
    single-char floods / padding artifacts; anomalously high entropy
    flags base64 / binary spills — the two char-level pathologies the
    word-level signals (``text_unigram_logprob``, quality flags) are blind to.

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
# RAKE-lite keyword extraction
# ---------------------------------------------------------------------------

_RAKE_TOP = 20
_RAKE_MAX_LEN = 6  # candidate phrases longer than this are discarded


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rose et al. 2010, "Automatic Keyword Extraction
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

    # Negative result: BOTH a compute-width repartition
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
# bigram-LM conditional surprisal census
# ---------------------------------------------------------------------------


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONDITIONAL extension of ``text_unigram_logprob`` — each bigram (w1, w2)
    costs ilog2(c(w1·) div c(w1 w2)) bits, where c(w1·) counts w1 as
    a bigram PREFIX: low conditional surprisal means the next word is
    predictable from the last (templates, boilerplate), high means
    incoherent word salad — the closest float-free stand-in for a
    real LM perplexity gate, one order up from ``text_unigram_logprob``'s unigram view.
    Per-source census of doc scores in milli-bits per bigram.

    Same ilog2-via-bin() exactness contract as
    ``text_unigram_logprob``/``text_char_entropy``; single-
    space tokenization (the oracle's string_split rule).  Shape: one
    (doc, bigram) aggregate, one bigram-vocab aggregate, one prefix
    aggregate derived FROM the bigram vocab (never a second corpus
    scan), a bigram-keyed equi-join back (vocab-sized build side,
    shuffled not blind-broadcast), one doc aggregate, one source
    census — all map-side-combinable, no windows."""
    # Negative result: a compute-width repartition of
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
# source x source lexical-distribution divergence (TVD matrix)
# ---------------------------------------------------------------------------


def text_source_tvd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise LEXICAL divergence between sources — the
    total-variation distance between each source pair's unigram
    distributions, in bp: TVD(p, q) = 1/2 * sum_t |p_t - q_t|.  The
    distribution-level complement to ``corpus_self_similarity`` (which measures shared
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
    ~1e13 * 1e13 at 100 TB, past bigint (the ``sample_token_budget_plan``
    overflow rule).
    Pairs sharing NO token (TVD exactly 10000) enter via the
    source-dimension pair universe left-joined onto the shared
    aggregate.

    Shape: one corpus scan -> (source, token) aggregate; the pair
    join keys on the TOKEN with fan-out bounded by sources-per-token
    (<= n_sources, ~20 — the ``corpus_self_similarity`` bound), totals and the pair
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


# ---------------------------------------------------------------------------
# exact-substring span dedup — the emit step (Lee et al. 2022)
# ---------------------------------------------------------------------------


def span_dedup_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span dedup, UNSORTED (the catalog query adds the presentation
    order; composition consumers like the corpus publish pipeline take
    the frame as-is so no dead global sort sits under their shuffles).

    Pipeline (all grains bounded at 100 TB):

    1. word 6-gram spans per doc as 8-byte cross-engine md5-64
       hashes (``text_dup_span_coverage``'s substrate — text never
       shuffles);
    2. per hash, ONE aggregate finds both the cross-document
       duplication predicate (min(doc) <> max(doc) — within-doc
       repetition is ``text_repetition``'s business) and the
       canonical occurrence (min (doc_id, pos) struct);
    3. every non-canonical occurrence of a duplicated hash becomes a
       removal interval [pos, pos + 5], union-merged per document
       by the ``window_interval_coalesce`` sweep (doc-partitioned
       windows — never global);
    4. the kept text re-assembles from the token array by filtering
       out covered positions (in-row higher-order functions — no
       explode of the corpus, no Python).

    Output per document: token counts (total / removed / kept) and
    the deduplicated text.  ``kept_tokens + removed_tokens ==
    n_tokens`` by construction, and per-source ``sum(removed_tokens)``
    is <= ``text_dup_span_coverage``'s ``covered_tokens`` (the canonical occurrences stay)
    — both pinned by the reconciliation pytest."""
    from xero_api_etl_utilities_spark.functions.crosshash import h64
    from xero_api_etl_utilities_spark.operators.dedup import token_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # materialize the words array BEFORE the shingle transform
    # (lambda-CSE trap, see text_boilerplate_shingles)
    wdocs = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    # spans feeds BOTH the canonical-occurrence
    # aggregate and the removal join, and the branches shuffle
    # different payloads, so the corpus-wide posexplode + md5-64
    # projection executed twice per run — materialize it once
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    spans = materialize(
        wdocs.select(
            "doc_id",
            F.posexplode(token_ngrams(F.col("_w"), 6)).alias("pos", "_s"),
        ).select("doc_id", "pos", h64(F.col("_s")).alias("h"))
    )
    canon = (
        spans.groupBy("h")
        .agg(
            F.min("doc_id").alias("_mn"),
            F.max("doc_id").alias("_mx"),
            F.min(F.struct("doc_id", "pos")).alias("_c"),
        )
        .filter(F.col("_mn") != F.col("_mx"))
        .select(
            "h",
            F.col("_c.doc_id").alias("_cd"),
            F.col("_c.pos").alias("_cp"),
        )
    )
    removal = (
        spans.join(canon, "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_cd"))
                & (F.col("pos") == F.col("_cp"))
            )
        )
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + 5).alias("e"),
        )
    )
    # union-merge per doc (s is unique per doc — one k-gram per pos)
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
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_ivs")
    )
    out = wdocs.join(ivs, "doc_id", "left").withColumn(
        "_iv2",
        F.coalesce(F.col("_ivs"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    # kept text = the GAPS between the sorted disjoint removal
    # intervals, sliced out of the token array — O(tokens + intervals)
    # per row (the previous array_contains-per-token rebuild was
    # O(tokens x removed), quadratic on heavily-duplicated docs).
    # Gap i runs from (interval i-1).e + 1 (or 0) up to
    # (interval i).s - 1, plus a tail gap after the last interval.
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
    # merged intervals are disjoint, so their width-sum IS the removed
    # token count; kept is materialized ONCE and the two consumers
    # (size + join) read the materialized column, not the lambda expr
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
            F.col("_rem").cast("bigint").alias("removed_tokens"),
            F.size("_kept").cast("bigint").alias("kept_tokens"),
            F.array_join("_kept", " ").alias("kept_text"),
        )
    )


def text_span_dedup_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog entry: :func:`span_dedup_frame` in doc order."""
    return span_dedup_frame(spark, sf_dir).orderBy("doc_id")


def span_dedup_emit_oracle() -> str:
    from xero_api_etl_utilities_spark.functions.crosshash import (
        h64_hi_sql,
        h64_lo_sql,
        signed64_sql,
    )

    h = signed64_sql(h64_hi_sql("s"), h64_lo_sql("s"))
    return f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), raw AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(w[i:i + 5], ' ') AS s
  FROM toks, unnest(range(1, greatest(len(w) - 5, 0) + 1)) AS t(i)
), spans AS (
  SELECT doc_id, pos, {h} AS h FROM raw
), occ AS (
  SELECT doc_id, pos,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
    min(doc_id) OVER (PARTITION BY h) AS mn,
    max(doc_id) OVER (PARTITION BY h) AS mx
  FROM spans
), removal AS (
  SELECT doc_id, pos AS sp, pos + 5 AS ep
  FROM occ WHERE mn <> mx AND rn > 1
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
  SELECT doc_id, i - 1 AS p, w[i] AS tok
  FROM toks, unnest(range(1, len(w) + 1)) AS u(i)
), keptagg AS (
  SELECT a.doc_id,
    count(*) FILTER (WHERE r.doc_id IS NULL) AS kept_tokens,
    coalesce(string_agg(a.tok, ' ' ORDER BY a.p)
             FILTER (WHERE r.doc_id IS NULL), '') AS kept_text
  FROM pos_all a
  LEFT JOIN removed_pos r ON a.doc_id = r.doc_id AND a.p = r.p
  GROUP BY a.doc_id
), remagg AS (
  SELECT doc_id, sum(ep - sp + 1) AS removed FROM merged GROUP BY doc_id
)
SELECT t.doc_id, t.source,
  len(t.w)::BIGINT AS n_tokens,
  coalesce(r.removed, 0)::BIGINT AS removed_tokens,
  coalesce(ka.kept_tokens, 0)::BIGINT AS kept_tokens,
  coalesce(ka.kept_text, '') AS kept_text
FROM toks t
LEFT JOIN remagg r USING (doc_id)
LEFT JOIN keptagg ka USING (doc_id)
ORDER BY doc_id
"""


register("text_span_dedup_emit", text_span_dedup_emit, span_dedup_emit_oracle)


# ---------------------------------------------------------------------------
# learned quality classifier (the DCLM / fastText stage)
# ---------------------------------------------------------------------------


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of the LEARNED quality scorer — the
    integer perceptron from operators/quality_model.py trained
    driver-side on the bounded doc_id<400 slice (pyarrow scan, the PQ
    codebook precedent), scored corpus-wide without a single shuffle
    before the dimension-sized groupBy: the 256 integer weights are a
    broadcast array literal and each document's score is ONE in-row
    ``F.aggregate`` over its token array (index = H32('f:'||t) mod
    256, sign = parity of H32('s:'||t) — ``text_hashing_features``'s exact
    feature space,
    so a production pipeline shares the materialized hashed-feature
    column between trainer and scorer).

    Output per source: document count, positive-score count, rounded
    share in bp ((20000a+n) div 2n — the repo's exact-ratio
    convention), and the exact integer score sum.

    100 TB shape: training cost is FIXED (400 docs on the driver, the
    ivf.train_centroids sample=1000 class); scoring is map-only
    whole-stage codegen — no vocabulary broadcast, no join, no UDF;
    the census shuffles one ~4-row partial aggregate per task."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    weights = qm.weights_from_parquet(sf_dir)
    w_arr = lit_longs([int(w) for w in weights])
    toks = tokens(F.col("text"))
    # coalesce: NULL text -> NULL fold, but the DuckDB oracle COALESCEs
    # its list_sum to 0 — a NULL-text document scores 0
    score = F.coalesce(
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                w_arr, (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1).cast("int")
            )
            * F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .withColumn(
            "share_bp",
            F.expr(
                "CAST((20000 * n_positive + n_docs) div (2 * n_docs)"
                " AS BIGINT)"
            ),
        )
        .select("source", "n_docs", "n_positive", "share_bp", "sum_score")
        .orderBy("source")
    )


def _quality_classifier_oracle() -> str:
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    weights = qm.weights_from_parquet(oracle_sf_dir())
    wlist = "[" + ", ".join(str(int(w)) for w in weights) + "]"
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")
    contrib = (
        f"wv.w[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
        f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
    )
    return f"""
WITH wv AS (SELECT {wlist} AS w),
scored AS (
  SELECT source,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(lower(text), '[a-z0-9]+'),
      t -> {contrib})), 0) AS BIGINT) AS score
  FROM documents, wv
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
  CAST((20000 * SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) + COUNT(*))
       // (2 * COUNT(*)) AS BIGINT) AS share_bp,
  CAST(SUM(score) AS BIGINT) AS sum_score
FROM scored GROUP BY source ORDER BY source
"""


register(
    "text_quality_classifier",
    text_quality_classifier,
    _quality_classifier_oracle,
)


# ---------------------------------------------------------------------------
# classifier calibration vs the rule pack it distilled
# ---------------------------------------------------------------------------


def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion census a curation team reads before trusting
    the learned scorer — per source, the ``text_quality_classifier``
    perceptron's decision
    (score > 0) against the rule-pack gate it was distilled from:
    tp/fp/fn/tn counts plus exact-integer precision and recall in bp
    (the (20000a+n) div 2n rounding convention; 0 when the denominator
    is empty).  Training saw only doc_id < 400, so every other row is
    held-out generalization — the number that says whether the model
    stage can replace the rule scan.

    Lowering: ONE corpus pass — the same zero-shuffle in-row score
    fold as ``text_quality_classifier`` plus the rule-pack column predicates, then a
    source-grain aggregate.  No join, no second scan: both classifier
    and rules are per-row expressions of the same document."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens
    from xero_api_etl_utilities_spark.operators.textstats import quality_flags

    weights = qm.weights_from_parquet(sf_dir)
    w_arr = lit_longs([int(w) for w in weights])
    toks = tokens(F.col("text"))
    # coalesce: NULL text -> NULL fold, but the DuckDB oracle COALESCEs
    # its list_sum to 0 — a NULL-text document scores 0
    score = F.coalesce(
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc
            + F.element_at(
                w_arr, (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1).cast("int")
            )
            * F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
    )
    flags = quality_flags(F.col("text"))
    rule = flags["len_ok"] & flags["punct_ok"] & flags["stopword_ok"]
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "source",
        (score > 0).alias("pred"),
        rule.alias("truth"),
    )
    counted = tagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("pred") & F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("tp"),
        F.sum((F.col("pred") & ~F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("fp"),
        F.sum((~F.col("pred") & F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("fn"),
        F.sum((~F.col("pred") & ~F.col("truth")).cast("int"))
        .cast("bigint")
        .alias("tn"),
    )
    return (
        counted.withColumn(
            "precision_bp",
            F.expr(
                "CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE"
                " (20000 * tp + (tp + fp)) div (2 * (tp + fp)) END"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "recall_bp",
            F.expr(
                "CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE"
                " (20000 * tp + (tp + fn)) div (2 * (tp + fn)) END"
                " AS BIGINT)"
            ),
        )
        .select(
            "source", "n_docs", "tp", "fp", "fn", "tn",
            "precision_bp", "recall_bp",
        )
        .orderBy("source")
    )


def _quality_calibration_oracle() -> str:
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    weights = qm.weights_from_parquet(oracle_sf_dir())
    wlist = "[" + ", ".join(str(int(w)) for w in weights) + "]"
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")
    contrib = (
        f"wv.w[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
        f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)"
    )
    return f"""
WITH wv AS (SELECT {wlist} AS w),
tagged AS (
  SELECT source,
    CAST(COALESCE(list_sum(list_transform(
      regexp_extract_all(lower(text), '[a-z0-9]+'),
      t -> {contrib})), 0) AS BIGINT) > 0 AS pred,
    (length(text) >= 50
     AND 100 * (length(text)
                - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
         <= 20 * length(text)
     AND 100 * len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           t -> list_contains(['the','a','and','of','to','in','is','it','for','on'], t)))
         >= 1 * greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
    ) AS truth
  FROM documents, wv
), counted AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    CAST(SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM tagged GROUP BY source
)
SELECT source, n_docs, tp, fp, fn, tn,
  CAST(CASE WHEN tp + fp = 0 THEN 0
       ELSE (20000 * tp + (tp + fp)) // (2 * (tp + fp)) END AS BIGINT)
    AS precision_bp,
  CAST(CASE WHEN tp + fn = 0 THEN 0
       ELSE (20000 * tp + (tp + fn)) // (2 * (tp + fn)) END AS BIGINT)
    AS recall_bp
FROM counted ORDER BY source
"""


register(
    "text_quality_calibration",
    text_quality_calibration,
    _quality_calibration_oracle,
)


# ---------------------------------------------------------------------------
# classifier lifecycle — retrain on the next epoch slice, census flips
# ---------------------------------------------------------------------------

_EPOCH_A = (0, 400)  # ``text_quality_classifier``'s seed slice
_EPOCH_B = (400, 800)  # the next curation epoch's slice


def drift_counted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared per-source two-model census frame under ``text_quality_drift`` (the
    drift table) and ``quality_swap_gate`` (the gated swap verdict): raw integer counts
    per source, INCLUDING the un-rounded agreement count ``_agree`` so
    downstream aggregates (the swap gate's global agreement) stay
    exact instead of re-deriving from rounded bp."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm
    from xero_api_etl_utilities_spark.operators.dedup import tokens

    w_a = qm.weights_from_parquet_slice(sf_dir, *_EPOCH_A)
    w_b = qm.weights_from_parquet_slice(sf_dir, *_EPOCH_B)
    docs = load_table(spark, sf_dir, "documents")
    # The two models share the hashing-trick feature map — only the
    # weight vectors differ — so a fold per model would re-derive BOTH
    # md5 hashes per token per model (4 md5/token).  One fold with a
    # two-field struct accumulator over a per-token (index, sign)
    # feature array hashes each token once (2 md5/token) and
    # accumulates both scores in the same element order, so each sum
    # is bit-identical to a single-model fold.
    wa_arr = lit_longs([int(w) for w in w_a])
    wb_arr = lit_longs([int(w) for w in w_b])
    feats = F.transform(
        tokens(F.col("text")),
        lambda t: F.struct(
            (h32(F.concat(F.lit("f:"), t)) % qm.DIM + 1)
            .cast("int")
            .alias("i"),
            F.when(h32(F.concat(F.lit("s:"), t)) % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("s"),
        ),
    )
    pair = F.aggregate(
        feats,
        F.struct(
            F.lit(0).cast("bigint").alias("a"), F.lit(0).cast("bigint").alias("b")
        ),
        lambda acc, f: F.struct(
            (acc["a"] + F.element_at(wa_arr, f["i"]) * f["s"]).alias("a"),
            (acc["b"] + F.element_at(wb_arr, f["i"]) * f["s"]).alias("b"),
        ),
    )
    scored = docs.select("source", pair.alias("_p")).select(
        "source",
        F.coalesce(F.col("_p.a"), F.lit(0).cast("bigint")).alias("score_a"),
        F.coalesce(F.col("_p.b"), F.lit(0).cast("bigint")).alias("score_b"),
    )
    pos_a = F.col("score_a") > 0
    pos_b = F.col("score_b") > 0
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(pos_a.cast("int")).cast("bigint").alias("n_pos_a"),
        F.sum(pos_b.cast("int")).cast("bigint").alias("n_pos_b"),
        F.sum((~pos_a & pos_b).cast("int")).cast("bigint").alias("n_gained"),
        F.sum((pos_a & ~pos_b).cast("int")).cast("bigint").alias("n_lost"),
        F.sum((pos_a == pos_b).cast("int")).cast("bigint").alias("_agree"),
        F.sum(F.col("score_b") - F.col("score_a"))
        .cast("bigint")
        .alias("score_drift"),
    )


def text_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-swap drift census — ``text_quality_classifier``'s perceptron (epoch A,
    doc_id in [0,400)) against the SAME architecture re-trained on the
    next curation epoch's slice (doc_id in [400,800)), scored over the
    whole corpus in ONE pass: per source, both positive counts, the
    verdict flips each way (the documents a swap would newly admit /
    newly reject), exact-integer agreement in bp ((20000a+n) div 2n),
    and the exact score drift sum.  This is the table a curation team
    reads before replacing the quality model.

    Lowering: both weight vectors are broadcast integer literals; each
    document's two scores are two in-row F.aggregate folds over the
    SAME projected token array (one tokenize, no join, no UDF, no
    shuffle before the dimension-grain groupBy) — ``text_quality_classifier``'s
    zero-shuffle
    shape, doubled.  Training cost stays FIXED at 100 TB: two bounded
    driver-side slices, never a corpus pass."""
    counted = drift_counted(spark, sf_dir)
    return (
        counted.withColumn(
            "agree_bp",
            F.expr("CAST((20000 * _agree + n_docs) div (2 * n_docs) AS BIGINT)"),
        )
        .select(
            "source", "n_docs", "n_pos_a", "n_pos_b",
            "n_gained", "n_lost", "agree_bp", "score_drift",
        )
        .orderBy("source")
    )


def drift_counted_ctes() -> str:
    """The DuckDB twin of :func:`drift_counted` — a WITH-prefix ending
    in ``counted(source, n_docs, n_pos_a, n_pos_b, n_gained, n_lost,
    agree, score_drift)``, shared by the ``text_quality_drift`` drift oracle and the
    ``quality_swap_gate`` swap-gate oracle."""
    from xero_api_etl_utilities_spark.operators import quality_model as qm

    w_a = qm.weights_from_parquet_slice(oracle_sf_dir(), *_EPOCH_A)
    w_b = qm.weights_from_parquet_slice(oracle_sf_dir(), *_EPOCH_B)
    fi = h32_sql("'f:' || t")
    si = h32_sql("'s:' || t")

    def score(name: str) -> str:
        return (
            "CAST(COALESCE(list_sum(list_transform("
            "regexp_extract_all(lower(text), '[a-z0-9]+'),"
            f" t -> wv.{name}[(CAST({fi} AS BIGINT) % {qm.DIM}) + 1]"
            f" * (CASE WHEN CAST({si} AS BIGINT) % 2 = 0"
            " THEN 1 ELSE -1 END))), 0) AS BIGINT)"
        )

    wa = "[" + ", ".join(str(int(w)) for w in w_a) + "]"
    wb = "[" + ", ".join(str(int(w)) for w in w_b) + "]"
    return f"""wv AS (SELECT {wa} AS a, {wb} AS b),
scored AS (
  SELECT source, {score("a")} AS score_a, {score("b")} AS score_b
  FROM documents, wv
), counted AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CASE WHEN score_a > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_a,
    CAST(SUM(CASE WHEN score_b > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_b,
    CAST(SUM(CASE WHEN score_a <= 0 AND score_b > 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_gained,
    CAST(SUM(CASE WHEN score_a > 0 AND score_b <= 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_lost,
    CAST(SUM(CASE WHEN (score_a > 0) = (score_b > 0) THEN 1 ELSE 0 END)
         AS BIGINT) AS agree,
    CAST(SUM(score_b - score_a) AS BIGINT) AS score_drift
  FROM scored GROUP BY source
)"""


def _quality_drift_oracle() -> str:
    return (
        "WITH "
        + drift_counted_ctes()
        + """
SELECT source, n_docs, n_pos_a, n_pos_b, n_gained, n_lost,
  CAST((20000 * agree + n_docs) // (2 * n_docs) AS BIGINT) AS agree_bp,
  score_drift
FROM counted ORDER BY source
"""
    )


register("text_quality_drift", text_quality_drift, _quality_drift_oracle)
