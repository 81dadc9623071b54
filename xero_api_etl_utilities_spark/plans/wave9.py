"""Catalog wave X146–X150 (SURVEY §2.12).

No reference counterpart (``src/queries.ts`` is a bookkeeping ETL);
this wave closes the last measured-but-not-actionable gaps:

* X146 ``text_span_dedup_emit`` — the EMIT step of Lee et al. 2022
  exact-substring deduplication: where X110
  (``text_dup_span_coverage``) only *measures* the token mass covered
  by cross-document duplicated k-gram spans, this query *produces*
  the deduplicated corpus — per document, the non-canonical
  duplicated spans are interval-union-merged and cut, and the kept
  text is emitted alongside the removal accounting.  First occurrence
  wins: for each duplicated span hash, the minimum (doc_id, pos)
  occurrence is the canonical one and survives; every other
  occurrence is removed.  (The paper removes all-but-one occurrence
  of >= 50-BPE-token repeats found by a suffix array, single-node;
  the k-gram hash lowering is the same linear-shuffle profile as
  X110 — spans move as 8-byte hashes, never text.)
* X147 ``multimodal_frame_sample`` — the video frame-sampling chain
  end to end: real ISO-BMFF grid planning, the pluggable (and loudly
  NotImplementedError-by-default) frame-extract slot, and the real
  stdlib image codec consuming the sampled thumbnails.
* X148 ``orders_cohort_ltv`` — the cohort lifetime-value triangle
  (calendar-bounded windows, integer-cents LTV per founding member).
* X149 ``dedup_minhash_calibration`` — MinHash ESTIMATOR calibration
  (estimate vs exact Jaccard by decile, deterministic pair-hash
  slice); X94 grades the banding, this grades the sketch.
* X150 ``decontaminate_longest_run`` — contamination DEPTH: longest
  contiguous benchmark-trigram run per doc via doc-partitioned
  gaps-and-islands (scattered echo vs verbatim inclusion).

Every hashed output value is an integer or a deterministic string;
every oracle replays the identical hash/interval/generation algebra
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# X146: exact-substring span dedup — the emit step (Lee et al. 2022)
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


def _span_dedup_emit_oracle() -> str:
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


register("text_span_dedup_emit", text_span_dedup_emit, _span_dedup_emit_oracle)


# ---------------------------------------------------------------------------
# X147: video frame-sample + thumbnail-feature chain
# ---------------------------------------------------------------------------


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video half of the multimodal pipeline made
    END-TO-END driver-visible — deterministic ISO-BMFF bytes per doc
    (synth_mp4_media's closed-form rule) → REAL container parse plans
    the 2 fps frame grid (operators/multimodal.sample_video_frames) →
    the pluggable frame-extract slot (the deterministic
    ``fake_frame_decode`` thumbnail here; production plugs ffmpeg at
    the same signature) → the REAL stdlib image codec decodes every
    sampled thumbnail back to pixels for an integer gray-mass
    feature.  Everything around the genuinely-codec-gated extract —
    grid math, batch fan-out, schema, the decode round-trip — is
    real, and the oracle predicts every integer from the generation
    rules without touching a byte.

    Scale shape: two chained Arrow ``mapInPandas`` projections of the
    media scan (bytes never shuffle; frame fan-out is executor-side,
    bounded by duration × fps per video); the only exchange is the
    final presentation sort."""
    import numpy as np

    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 80)
    )
    media = mm.synth_mp4_media(docs, "doc_id")
    frames = mm.sample_video_frames(media, decode_fn=mm.fake_frame_decode)

    def _gray(batches):
        from xero_api_etl_utilities_spark.functions.imagecodec import (
            decode_image,
        )

        for pdf in batches:
            sums = []
            for fb in pdf["frame"]:
                w, h, _c, px = decode_image(bytes(fb))
                arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                sums.append(int((arr.reshape(-1, 3).sum(axis=1) // 3).sum()))
            out = pdf[
                ["media_id", "frame_idx", "ts_ms", "width", "height"]
            ].copy()
            out["thumb_gray_sum"] = sums
            yield out

    feats = frames.mapInPandas(
        _gray,
        schema=(
            "media_id bigint, frame_idx bigint, ts_ms bigint,"
            " width int, height int, thumb_gray_sum bigint"
        ),
    )
    return feats.orderBy("media_id", "frame_idx")


_FRAME_SAMPLE_ORACLE = """
WITH base AS (
  SELECT doc_id AS media_id,
    (1200 + (doc_id % 7) * 600) * 1000 // (600 + (doc_id % 4) * 300)
      AS dur_ms,
    160 * (1 + doc_id % 3) AS w,
    120 * (1 + doc_id % 3) AS h
  FROM documents WHERE doc_id < 80
), frames AS (
  SELECT media_id, u.i AS frame_idx, u.i * 500 AS ts_ms, w, h
  FROM base, unnest(range(0, (dur_ms + 499) // 500)) AS u(i)
), px AS (
  SELECT media_id, frame_idx, ts_ms, w, h,
    ((ts_ms * 7 + 3 * p.j) % 256
     + (ts_ms * 7 + 3 * p.j + 1) % 256
     + (ts_ms * 7 + 3 * p.j + 2) % 256) // 3 AS g
  FROM frames, unnest(range(0, 48)) AS p(j)
)
SELECT media_id,
  CAST(frame_idx AS BIGINT) AS frame_idx,
  CAST(ts_ms AS BIGINT) AS ts_ms,
  CAST(w AS INT) AS width,
  CAST(h AS INT) AS height,
  CAST(sum(g) AS BIGINT) AS thumb_gray_sum
FROM px GROUP BY 1, 2, 3, 4, 5
ORDER BY media_id, frame_idx
"""

register(
    "multimodal_frame_sample", multimodal_frame_sample, _FRAME_SAMPLE_ORACLE
)


# ---------------------------------------------------------------------------
# X148: cohort lifetime-value matrix
# ---------------------------------------------------------------------------


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X148: the cohort LTV triangle — customers grouped by
    first-order month, each cohort's per-month activity, revenue, and
    CUMULATIVE revenue per founding member: the acquisition-payback
    table every growth team reads next to the retention matrix
    (``events_cohort_retention`` is the activity sibling; this is the
    money one).  All integer cents; LTV = cumulative cents ``div``
    cohort size, so the hash is exact.

    Shape: one customer-grain first-order aggregate, one
    customer-keyed equi-join back to the fact (AQE broadcasts the
    first-order side when small; stays a shuffled equi-join at 100
    TB), one (cohort, month) aggregate, then a cohort-partitioned
    running sum over the cohort×month triangle — a dimension-sized
    frame (~84×84 at any corpus size: partitions bounded by the
    calendar, never the data)."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("_m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    first = od.groupBy("o_custkey").agg(F.min("_m").alias("cohort"))
    monthnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    cells = (
        od.join(first, "o_custkey")
        .withColumn("months_since", monthnum(F.col("_m")) - monthnum(F.col("cohort")))
        .groupBy("cohort", "months_since")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.sum("_cents").alias("revenue_cents"),
        )
    )
    sizes = cells.filter(F.col("months_since") == 0).select(
        "cohort", F.col("n_active").alias("_csize")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.withColumn("cum_revenue_cents", F.sum("revenue_cents").over(w))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("months_since").cast("int").alias("months_since"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
            F.col("cum_revenue_cents").cast("bigint").alias(
                "cum_revenue_cents"
            ),
            F.expr("cum_revenue_cents div _csize")
            .cast("bigint")
            .alias("cum_ltv_cents"),
        )
        .orderBy("cohort", "months_since")
    )


# ---------------------------------------------------------------------------
# X150: contamination DEPTH — longest contiguous benchmark run per doc
# ---------------------------------------------------------------------------


def decontaminate_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150: benchmark-contamination DEPTH — ``decontaminate_ngrams``
    (X3b) counts how many distinct benchmark trigrams a training doc
    shares; this measures how LONG the verbatim overlap runs: the
    longest contiguous run of contaminated trigram positions per doc
    (a run of L consecutive trigram starts covers L+2 tokens).  A doc
    sharing 30 scattered trigrams is phrase-level echo; a doc with a
    30-gram contiguous run contains the benchmark item verbatim — the
    distinction every decontamination policy (Lee et al. 2022; GPT-3
    appendix) actually acts on.  Same split convention as X3b: every
    20th doc plays the benchmark.

    Lowering: benchmark trigrams broadcast (benchmark-sized — eval
    sets are small at any corpus scale); the corpus side semi-joins
    its positional trigrams (8-byte-ish strings here; the hash form
    of X110 applies verbatim if vocab explodes) and the run length is
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
# X149: MinHash estimator calibration census
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
    memoized recall-tuned candidate frame (corpus_ops.lsh_candidates
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
    from xero_api_etl_utilities_spark.plans.corpus_ops import (
        lsh_candidates,
        minhash_sigs,
    )

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
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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


register(
    "orders_cohort_ltv",
    orders_cohort_ltv,
    """
WITH od AS (
  SELECT o_custkey,
    date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), first AS (
  SELECT o_custkey, min(m) AS cohort FROM od GROUP BY o_custkey
), cells AS (
  SELECT cohort,
    (year(m) * 12 + month(m)) - (year(cohort) * 12 + month(cohort))
      AS months_since,
    count(DISTINCT o_custkey) AS n_active,
    sum(cents) AS revenue_cents
  FROM od JOIN first USING (o_custkey)
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, months_since, n_active, revenue_cents,
    sum(revenue_cents) OVER (PARTITION BY cohort ORDER BY months_since
      ROWS UNBOUNDED PRECEDING) AS cum_revenue_cents
  FROM cells
), sizes AS (
  SELECT cohort, n_active AS csize FROM cells WHERE months_since = 0
)
SELECT CAST(cohort AS DATE) AS cohort,
  CAST(months_since AS INT) AS months_since,
  CAST(n_active AS BIGINT) AS n_active,
  CAST(revenue_cents AS BIGINT) AS revenue_cents,
  CAST(cum_revenue_cents AS BIGINT) AS cum_revenue_cents,
  CAST(cum_revenue_cents // csize AS BIGINT) AS cum_ltv_cents
FROM cum JOIN sizes USING (cohort)
ORDER BY cohort, months_since
""",
)
