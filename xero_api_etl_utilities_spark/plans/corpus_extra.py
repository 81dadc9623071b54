"""Training-pipeline mining wave (SURVEY §2.12 X96–X100).

No reference counterpart (``src/queries.ts`` is a bookkeeping ETL);
these are the corpus-curation / sequence-mining / drift diagnostics a
large-scale training-data pipeline runs beside the dedup family:

* X96 ``events_seq_pairs`` — sequential-pattern support (PrefixSpan
  depth 2): which ordered event-type pairs (a happens, b happens
  LATER — not necessarily adjacently) recur across user-day
  sequences, with relative minimum support in basis points.
* X97 ``diag_distribution_drift`` — total-variation distance between
  the weekday and weekend event-type mixes, exact in basis points
  (the ln-free stand-in for PSI/KL drift monitors).
* X98 ``text_tf_cosine_pairs`` — sparse term-frequency cosine
  similarity join via an inverted index (posting-list self-join), the
  vocabulary-space twin of ``dedup_embedding_cosine``; the cosine
  threshold is applied as a cross-multiplied integer predicate so no
  float division or sqrt ever happens.
* X99 ``text_boilerplate_shingles`` — CCNet-style boilerplate
  detection: word 3-gram shingles recurring in >= K distinct docs are
  "boilerplate"; per-source share of boilerplate shingle mass in bp.
* X100 ``sample_epoch_shuffle`` — deterministic training-order epoch
  shuffle with DISTRIBUTED stable numbering: global position under
  the (hash, doc_id) total order computed as range-bucket offsets +
  within-bucket rank, never a single-partition global window.
* X101 ``dedup_semantic_clusters`` — SemDeDup: k-means-cluster the
  embedding corpus, drop within-cluster cosine near-dups; the
  embedding-space member of the dedup family (added later in r6).
* X102 ``sample_token_budget_plan`` — the pretraining data-mixing
  planner: per-source full-epoch counts + exact partial-pass sampling
  rates (ppm) from token inventories, mixture weights, and a budget.
* X107 ``diag_ks_drift`` — exact two-sample Kolmogorov–Smirnov
  statistic over document lengths, the continuous-feature complement
  to X97's categorical TVD drift.

Every hashed output value is an integer (or, for X97's >bigint
rationals, a digit-exact string); every oracle replays the same
algorithm in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32, h32_sql
from xero_api_etl_utilities_spark.operators.materialize import materialize, session_memo
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# X96: sequential-pattern support (PrefixSpan depth 2)
# ---------------------------------------------------------------------------


def events_seq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: support of ordered event-type pairs across user-day
    sequences.  A sequence (one user's one day, ordered by (ts,
    event_id)) supports a -> b iff SOME a-event precedes SOME b-event
    — the PrefixSpan subsequence semantics, not adjacency (adjacency
    is ``events_transition_matrix``; full contiguous paths are
    ``events_top_paths``).

    Lowering: exists i<j with type_i=a, type_j=b  <=>  the FIRST a
    precedes the LAST b.  So one row_number window per user-day, a
    (user, day, type)-grain min/max aggregate (5 types -> <= 5 rows
    per sequence), and a self-join keyed on the sequence id that is
    quadratic only in the per-sequence type count (<= 25 pairs).  The
    expensive fact-sized steps are one user-keyed exchange and one
    map-side-combinable aggregate; support counting shuffles pair
    names only.  At 100 TB this is exactly the sessionize shape plus a
    bounded per-entity join — no pattern-growth recursion needed at
    depth 2.

    Support is published both as a user-day count and in bp relative
    to the total sequence count, with a ``frequent`` verdict at a
    relative minsup of 850 bp — relative, so the verdict is scale-free
    (the r3 lesson from ``basket_brand_triples``)."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
                "ts", "event_id"
            )
        )
        .alias("s"),
    )
    mm = seq.groupBy("user_id", "d", "event_type").agg(
        F.min("s").alias("mn"), F.max("s").alias("mx")
    )
    # total sequence count rides along as a broadcast 1-row frame — an
    # eager .count() here would run the row_number scan as a separate
    # job at plan-BUILD time, before the consumer even executes
    tot = (
        mm.select("user_id", "d")
        .distinct()
        .agg(F.count(F.lit(1)).alias("total"))
    )
    a = mm.select("user_id", "d", F.col("event_type").alias("ante"), "mn")
    b = mm.select(
        F.col("user_id").alias("u2"),
        F.col("d").alias("d2"),
        F.col("event_type").alias("cons"),
        "mx",
    )
    sup = (
        a.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("d") == F.col("d2"))
            & (F.col("ante") != F.col("cons"))
            & (F.col("mn") < F.col("mx")),
        )
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("support_seqs"))
    )
    # integer `div`, not float `/`-then-cast: the float path diverges
    # from the oracle's `//` once support·10⁴ passes 2⁵³
    return (
        sup.crossJoin(F.broadcast(tot))
        .select(
            "ante",
            "cons",
            "support_seqs",
            F.expr("support_seqs * 10000 div total").alias("support_bp"),
            (F.col("support_seqs") * 10000 >= F.lit(850) * F.col("total")).alias(
                "frequent"
            ),
        )
        .orderBy("ante", "cons")
    )


_SEQ_PAIRS_ORACLE = """
WITH seq AS (
  SELECT user_id, ts::DATE AS d, event_type,
         row_number() OVER (PARTITION BY user_id, ts::DATE
                            ORDER BY ts, event_id) AS s
  FROM events
), mm AS (
  SELECT user_id, d, event_type, min(s) AS mn, max(s) AS mx
  FROM seq GROUP BY 1, 2, 3
), tot AS (
  SELECT count(*)::BIGINT AS n
  FROM (SELECT DISTINCT user_id, d FROM mm)
)
SELECT a.event_type AS ante, b.event_type AS cons,
       count(*)::BIGINT AS support_seqs,
       (count(*)::BIGINT * 10000) // (SELECT n FROM tot) AS support_bp,
       count(*)::BIGINT * 10000 >= 850 * (SELECT n FROM tot) AS frequent
FROM mm a
JOIN mm b ON a.user_id = b.user_id AND a.d = b.d
         AND a.event_type <> b.event_type AND a.mn < b.mx
GROUP BY 1, 2
ORDER BY 1, 2
"""

register("events_seq_pairs", events_seq_pairs, _SEQ_PAIRS_ORACLE)


# ---------------------------------------------------------------------------
# X97: distribution drift as exact total-variation distance
# ---------------------------------------------------------------------------


def diag_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: drift between the weekday and weekend event-type mixes as
    TOTAL-VARIATION distance, exact in basis points.

    PSI and KL need ln(); TVD = max_A |P(A) - Q(A)| = (1/2) sum_t
    |p_t - q_t| is the ln-free drift metric, and with p_t = c_t/n,
    q_t = d_t/m it cross-multiplies:  tvd_bp = floor(5000 *
    sum|c_t*m - d_t*n| / (n*m)).  Products are carried as
    decimal(38,0) (Spark) / HUGEINT (DuckDB) so the algebra survives
    100-TB counts (c*m ~ 1e26 overflows bigint; it does NOT overflow
    38 digits until ~1e19-row snapshots).

    Weekday-ness comes from epoch-day arithmetic, NOT the engine's
    dayofweek() (Spark counts Sunday=1, DuckDB Sunday=0 — a silent
    oracle trap): 1970-01-01 was a Thursday, so epoch_day % 7 is 2 on
    Saturday and 3 on Sunday in BOTH engines.

    Shape: one map-side-combinable type x is_weekend aggregate (10
    cells), then 5-row algebra.  Output: one row per type with the
    exact drift numerator, plus a '__total__' row carrying tvd_bp."""
    ev = load_table(spark, sf_dir, "events")
    epoch_day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    cells = ev.groupBy(
        "event_type", (epoch_day % 7).isin(2, 3).alias("weekend")
    ).agg(F.count(F.lit(1)).alias("c"))
    wide = cells.groupBy("event_type").agg(
        F.sum(F.when(~F.col("weekend"), F.col("c")).otherwise(0)).alias("wd"),
        F.sum(F.when(F.col("weekend"), F.col("c")).otherwise(0)).alias("we"),
    )
    tot = wide.agg(
        F.sum("wd").cast("decimal(38,0)").alias("n"),
        F.sum("we").cast("decimal(38,0)").alias("m"),
    )
    j = wide.crossJoin(F.broadcast(tot))
    num = F.abs(
        F.col("wd").cast("decimal(38,0)") * F.col("m")
        - F.col("we").cast("decimal(38,0)") * F.col("n")
    )
    per_type = j.select(
        "event_type",
        "wd",
        "we",
        num.cast("decimal(38,0)").alias("drift_num"),
    )
    total_row = (
        per_type.crossJoin(F.broadcast(tot))
        .agg(
            F.first(F.lit("__total__")).alias("event_type"),
            F.sum("wd").alias("wd"),
            F.sum("we").alias("we"),
            F.floor(
                F.sum("drift_num")
                * F.lit(5000)
                / (F.first("n") * F.first("m"))
            )
            .cast("decimal(38,0)")
            .alias("drift_num"),
        )
    )
    # drift_num carries >bigint products by design, so it is published
    # as VARCHAR on BOTH sides: a decimal(38,0)/HUGEINT column reaches
    # the driver's pandas hasher as Decimal vs float64 and can never
    # match; the string form is digit-exact at any sf.
    return (
        per_type.unionByName(total_row)
        .select(
            "event_type",
            F.col("wd").cast("bigint").alias("wd"),
            F.col("we").cast("bigint").alias("we"),
            F.col("drift_num").cast("string").alias("drift_num"),
        )
        .orderBy("event_type")
    )


_DRIFT_ORACLE = """
WITH wide AS (
  SELECT event_type,
         count(*) FILTER (
           (datediff('day', DATE '1970-01-01', ts::DATE) % 7) NOT IN (2, 3)
         )::HUGEINT AS wd,
         count(*) FILTER (
           (datediff('day', DATE '1970-01-01', ts::DATE) % 7) IN (2, 3)
         )::HUGEINT AS we
  FROM events GROUP BY 1
), tot AS (
  SELECT sum(wd)::HUGEINT AS n, sum(we)::HUGEINT AS m FROM wide
), per_type AS (
  SELECT event_type, wd, we,
         abs(wd * (SELECT m FROM tot) - we * (SELECT n FROM tot)) AS drift_num
  FROM wide
)
SELECT event_type, wd::BIGINT AS wd, we::BIGINT AS we,
       CAST(drift_num AS VARCHAR) AS drift_num
FROM per_type
UNION ALL
SELECT '__total__', sum(wd)::BIGINT, sum(we)::BIGINT,
       CAST((sum(drift_num) * 5000)
            // ((SELECT n FROM tot) * (SELECT m FROM tot)) AS VARCHAR)
FROM per_type
ORDER BY 1
"""

register("diag_distribution_drift", diag_distribution_drift, _DRIFT_ORACLE)


# ---------------------------------------------------------------------------
# X98: sparse TF-cosine similarity join via inverted index
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
# X99: boilerplate shingle share (within-corpus repeated n-grams)
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
# X100: deterministic epoch shuffle with distributed stable numbering
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
# X101: SemDeDup — semantic deduplication via embedding clusters
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
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
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
# X102: token-budget mixture planner
# ---------------------------------------------------------------------------

_BUDGET_X = 2  # training budget as a multiple of the corpus token count


def sample_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102: the pretraining data-mixing planner — given per-source
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
    string_split(trim(text), ' ') applies and the X115/X117/X118
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
# X107: exact two-sample Kolmogorov-Smirnov drift
# ---------------------------------------------------------------------------


def diag_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: distribution drift for a CONTINUOUS feature — the
    complement to ``diag_distribution_drift``'s categorical TVD: the
    exact two-sample Kolmogorov-Smirnov statistic over document
    lengths, comparing the src0-src9 half of the corpus against
    src10-src19 (the "did the new crawl batch shift the length
    distribution" monitor).

    D = max_v |F1(v) - F2(v)| cross-multiplies to integers: with
    cum_i(v) = #{docs on side i with n_chars <= v},
    D = max |cum1(v)*n2 - cum2(v)*n1| / (n1*n2) — numerator,
    denominator, and the 10^4-scaled bp value are all published as
    exact integers, plus the arg-max length (smallest on ties, so the
    row is deterministic).

    Lowering: one (length, side) aggregate over the fact, then
    cumulative windows over the DISTINCT-LENGTH frame — bounded by
    feature cardinality, not corpus size (the equidepth/zonemap
    precedent); totals ride an unpartitioned window over that same
    tiny frame.  At 100 TB with a high-cardinality feature, bucket
    lengths first (the KS statistic of the bucketed CDF bounds the
    true D within max bucket mass) — same plan, one extra floor.

    Overflow: cum*n is <= n1*n2 ~ 2.5e9 at sf0.1 and ~2.5e21 at
    ~5e10 docs/side — the cross-product is carried as decimal(38,0)
    and only the bp ratio (<= 10^4) returns to bigint."""
    docs = load_table(spark, sf_dir, "documents")
    side = (
        F.regexp_extract(F.col("source"), "(\\d+)", 1).cast("int") < 10
    ).alias("side_a")
    counts = (
        docs.select(F.col("n_chars").alias("v"), side)
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("side_a"), 1).otherwise(0)).alias("c1"),
            F.sum(F.when(~F.col("side_a"), 1).otherwise(0)).alias("c2"),
        )
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    d38 = "decimal(38,0)"
    cum = (
        counts.withColumn("cum1", F.sum("c1").over(w_cum))
        .withColumn("cum2", F.sum("c2").over(w_cum))
        .withColumn("n1", F.sum("c1").over(w_all))
        .withColumn("n2", F.sum("c2").over(w_all))
        .withColumn(
            "gap",
            F.abs(
                F.col("cum1").cast(d38) * F.col("n2")
                - F.col("cum2").cast(d38) * F.col("n1")
            ),
        )
    )
    return (
        cum.orderBy(F.desc("gap"), F.asc("v"))
        .limit(1)
        .select(
            F.col("v").cast("bigint").alias("argmax_len"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("gap").cast("string").alias("ks_num"),
            (F.col("n1").cast(d38) * F.col("n2"))
            .cast(d38)
            .cast("string")
            .alias("ks_den"),
            F.expr(
                f"cast(gap as {d38}) * 10000"
                f" div (cast(n1 as {d38}) * cast(n2 as {d38}))"
            ).alias("ks_bp"),
        )
    )


_KS_DRIFT_ORACLE = """
WITH counts AS (
  SELECT n_chars AS v,
    CAST(SUM(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) < 10
                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
    CAST(SUM(CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) >= 10
                  THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM documents GROUP BY n_chars
), cum AS (
  SELECT v,
    SUM(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
    SUM(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2,
    SUM(c1) OVER () AS n1,
    SUM(c2) OVER () AS n2
  FROM counts
), gapped AS (
  SELECT v, n1, n2,
    abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) AS gap
  FROM cum
)
SELECT CAST(v AS BIGINT) AS argmax_len,
  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
  CAST(CAST(gap AS DECIMAL(38,0)) AS VARCHAR) AS ks_num,
  CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS DECIMAL(38,0)) AS VARCHAR) AS ks_den,
  CAST((gap * 10000) // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_bp
FROM gapped
ORDER BY gap DESC, v ASC
LIMIT 1
"""

register("diag_ks_drift", diag_ks_drift, _KS_DRIFT_ORACLE)


# ---------------------------------------------------------------------------
# X109: per-source quality-decile census
# ---------------------------------------------------------------------------


def diag_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: the "which sources are low quality" curation heatmap —
    every document scored on an integer quality composite
    (stopword-density bp + alpha-density bp − punct-density bp, the
    same cross-multiplied signals the quality gate thresholds), cut
    into corpus-wide DECILES, and counted per (source, decile).  A
    source whose mass piles into deciles 1-2 is a removal candidate;
    a uniform row is healthy — the report every corpus card ships.

    NTILE over a tied score splits by row order, so the decile ranks
    over the (score, doc_id) total order — engine-exact, the RFM
    precedent.  Shape: one scan projection for the score, ONE
    dimension-sized ranking window (decile over the whole corpus — at
    100 TB swap to approx_percentile cut points and the window
    disappears; the census itself never changes), one (source,
    decile) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from xero_api_etl_utilities_spark.operators.textstats import (
        STOPWORDS_EN,
        char_class_counts,
        stopword_hits,
    )

    cc = char_class_counts(F.col("text"))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    parts = docs.select(
        "doc_id",
        "source",
        F.greatest(F.size(toks).cast("bigint"), F.lit(1).cast("bigint")).alias(
            "_ntok"
        ),
        F.greatest(cc["n_chars"], F.lit(1).cast("bigint")).alias("_nch"),
        stopword_hits(toks, STOPWORDS_EN).alias("_stops"),
        cc["n_alpha"].alias("_alpha"),
        cc["n_punct"].alias("_punct"),
    )
    # integer `div` throughout — the flagship rule: bare `/` in a
    # hashed column drifts vs the oracle's floor on ties
    scored = parts.select(
        "doc_id",
        "source",
        F.expr(
            "10000 * _stops div _ntok + 10000 * _alpha div _nch"
            " - 10000 * _punct div _nch"
        ).alias("q_score"),
    )
    decile = F.ntile(10).over(Window.orderBy(F.asc("q_score"), F.asc("doc_id")))
    return (
        scored.withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("source", F.col("decile").cast("int").alias("decile"), "n_docs")
        .orderBy("source", "decile")
    )


def _quality_deciles_oracle() -> str:
    from xero_api_etl_utilities_spark.operators.textstats import STOPWORDS_EN

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"""
WITH scored AS (
  SELECT doc_id, source,
    CAST(10000 * len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
           t -> list_contains([{stoplist}], t)))
      // greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
      AS BIGINT)
    + CAST(10000 * (length(text)
           - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT)
    - CAST(10000 * (length(text)
           - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
      // greatest(length(text), 1) AS BIGINT) AS q_score
  FROM documents
), cut AS (
  SELECT source,
    NTILE(10) OVER (ORDER BY q_score ASC, doc_id ASC) AS decile
  FROM scored
)
SELECT source, CAST(decile AS INT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM cut GROUP BY 1, 2 ORDER BY source, decile
"""


register("diag_quality_deciles", diag_quality_deciles, _quality_deciles_oracle)


def diag_quality_deciles_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB lowering of ``diag_quality_deciles`` — the
    SAME census (hash-identical to the same oracle) with the global
    doc-grain NTILE window replaced by a distributed rank
    decomposition, the ``sample_epoch_shuffle`` pattern applied to the
    (q_score, doc_id) total order:

    * bucket = (q_score + 10000) >> 7 — score bands are RANGES of the
      sort key, so bucket order == global order (score range is the
      bounded [-10000, 20000] bp composite, ~235 buckets).
    * within-bucket rank by (q_score, doc_id): a PARTITIONED window,
      spread across all executors.
    * bucket offsets (rows in all lower buckets) via a broadcast
      inequality self-join on the ~235-row histogram — a prefix sum
      with NO single-partition exchange anywhere in the plan (the
      epoch-shuffle variant still had one tiny unpartitioned offset
      window; here even that is gone).
    * NTILE(10) applied in CLOSED FORM to the reconstructed global
      rank r of n rows: the first n%10 buckets hold n//10+1 rows, so
      decile(r) = ceil(r/(base+1)) while r <= rem*(base+1), else
      rem + ceil((r-rem*(base+1))/base) — bit-for-bit the engine's
      NTILE tie-split over the same total order.

    Correct-by-construction at any scale: every window is score-band
    partitioned, every small frame (histogram, offsets, 1-row total)
    is broadcast.  At 100 TB only the band shift widens."""
    docs = load_table(spark, sf_dir, "documents")
    from xero_api_etl_utilities_spark.operators.textstats import (
        STOPWORDS_EN,
        char_class_counts,
        stopword_hits,
    )

    cc = char_class_counts(F.col("text"))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
    parts = docs.select(
        "doc_id",
        "source",
        F.greatest(F.size(toks).cast("bigint"), F.lit(1).cast("bigint")).alias(
            "_ntok"
        ),
        F.greatest(cc["n_chars"], F.lit(1).cast("bigint")).alias("_nch"),
        stopword_hits(toks, STOPWORDS_EN).alias("_stops"),
        cc["n_alpha"].alias("_alpha"),
        cc["n_punct"].alias("_punct"),
    )
    scored = parts.select(
        "doc_id",
        "source",
        F.expr(
            "10000 * _stops div _ntok + 10000 * _alpha div _nch"
            " - 10000 * _punct div _nch"
        ).alias("q_score"),
    ).withColumn("bucket", F.shiftright(F.col("q_score") + F.lit(10000), 7))
    from xero_api_etl_utilities_spark.operators.rankdist import (
        global_rank_decomposed,
        ntile_closed_form,
    )

    ranked = global_rank_decomposed(
        scored, "bucket", [F.asc("q_score"), F.asc("doc_id")]
    )
    total = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    decile = ntile_closed_form(F.col("r"), F.col("n"), 10)
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("decile", decile)
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("source", F.col("decile").cast("int").alias("decile"), "n_docs")
        .orderBy("source", "decile")
    )


register(
    "diag_quality_deciles_dist", diag_quality_deciles_dist, _quality_deciles_oracle
)


# ---------------------------------------------------------------------------
# X110: exact-substring duplication coverage (Lee et al. 2022 census)
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
# X115: language × source mix census (the data-card table)
# ---------------------------------------------------------------------------


def corpus_mix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X115: the composition table every dataset card publishes — per
    (lang, source) cell: documents, whitespace-token mass, and the
    cell's share of the whole corpus in ppm (integer ``div``, so the
    hash is exact and the shares are reproducible row-order-free).
    Upstream of the X102 mixture planner: this is the inventory the
    planner's weights are set against.

    Shape: ONE corpus scan into a (lang × source)-sized aggregate; the
    corpus total is a window over that dimension-sized frame, not a
    second scan (the X102 precedent — single-partition windows are
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
# X116: kNN label purity — embedding-quality / label-noise census
# ---------------------------------------------------------------------------


# The 80-probe / k=10 brute-force shortlist feeds TWO catalog
# consumers (X116 purity and X129 kappa) — built once per session, so
# the second consumer's marginal cost is a broadcast join, not a
# second exact search (~5 s at sf0.1).
@session_memo("knn_shortlist")
def probe_knn_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 80)
    nn = sim.topk_bruteforce(queries, emb, k=10)
    return materialize(nn)


def similarity_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: per-label kNN agreement — for a bounded deterministic
    query set, the share (bp) of each query's 10 nearest cosine
    neighbors that carry the query's own label. The standard
    embedding-quality / label-noise probe (a low-purity label is
    either under-clustered or mislabeled) a curation pipeline runs
    before trusting ``label`` for stratified sampling.

    Shape: the exactness-baseline ``topk_bruteforce`` (guard-caged to
    the 80-query probe set; the production-scale route would feed the
    same purity aggregate from the IVF shortlist, see
    ``similarity_topk_ivfpq_rerank``). The (80 x 10)-row neighbor
    shortlist is BROADCAST against the corpus label table, so the
    label join is map-side and the corpus never shuffles; the final
    aggregate is label-dimension-sized.
    """
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    nn = probe_knn_shortlist(spark, sf_dir)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "label", "ql"
    )
    nl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "label", "nl"
    )
    joined = (
        F.broadcast(nn)
        .join(ql, "query_id")
        .join(nl, "neighbor_id")
    )
    return (
        joined.groupBy(F.col("ql").alias("label"))
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.sum(
                F.when(F.col("nl") == F.col("ql"), F.lit(1)).otherwise(F.lit(0))
            ).alias("_match"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "label",
            "n_queries",
            F.expr("_match * 10000 div _n").cast("bigint").alias("knn_match_bp"),
        )
        .orderBy("label")
    )


register(
    "similarity_label_purity",
    similarity_label_purity,
    """
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
)
SELECT CAST(ql AS INT) AS label,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) * 10000
            // count(*) AS BIGINT) AS knn_match_bp
FROM ranked WHERE rank <= 10
GROUP BY ql ORDER BY label
""",
)


# ---------------------------------------------------------------------------
# X117: Zipf-head vocabulary coverage per source
# ---------------------------------------------------------------------------


def text_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: per-source share (bp) of token mass covered by the
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
# X118: sequence-packing waste census
# ---------------------------------------------------------------------------

_PACK_LEN = 128


def sample_pack_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: per-source padding-waste census at context length 128 —
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
