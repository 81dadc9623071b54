"""Round-3 training-pipeline catalog wave.

Five operators a 100 TB training-data pipeline runs daily, none of
which the round-2 catalog covered:

- ``dedup_containment``   — sub/superset near-dup rule over the SAME
  LSH candidate substrate as the Jaccard path (quotation/boilerplate
  inclusion, which Jaccard structurally misses);
- ``embedding_quantize_sq8`` — int8 scalar quantization of the
  embedding corpus (the standard 4× ANN-index compression);
- ``sample_per_source_topk`` — exact-quota deterministic k-per-group
  sampling (hash ORDER, not hash predicate);
- ``sample_mixture_rebalance`` — downsample toward a target data
  mixture with rates derived from the corpus census;
- ``events_interarrival``  — integer-exact per-user inter-event gap
  stats (min/max/lower-median), the activity-cadence signal.

Every oracle is integer- or bit-exact: no float summation enters any
hashed column (the one float formula, SQ8's code, is written with a
single association in both engines so every double is bit-identical).

Reference provenance: the reference has no training-data surface at
all (src/queries.ts is relational ETL); these extend SURVEY §2.12 per
the north-star brief, not §2.1-2.10 parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.functions.crosshash import h32_sql
from xero_api_etl_utilities_spark.operators.materialize import session_memo
from xero_api_etl_utilities_spark.plans.catalog import oracle_sf_dir, register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# --------------------------------------------------------------- containment

def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 completion: containment-verified near-dup pairs — keep
    (a, b) when the smaller shingle set is ≥90% inside the other.
    Shares the materialized LSH candidate frame with
    dedup_verified_pairs / dedup_clusters (corpus_ops.lsh_candidates):
    one candidate generation feeds all three verify consumers, exactly
    like a production DAG's shared stage."""
    from xero_api_etl_utilities_spark.operators import dedup as dd
    from xero_api_etl_utilities_spark.plans import corpus_ops

    docs = load_table(spark, sf_dir, "documents")
    cands = corpus_ops.lsh_candidates(spark, sf_dir)
    return dd.containment_verify(
        cands,
        docs,
        "doc_id",
        "text",
        n=1,
        parallelism=spark.sparkContext.defaultParallelism,
        # memoized checkpoint, already at compute width (r16)
        cands_at_width=True,
    )


def _containment_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

    return sk.containment_pairs_oracle()


register("dedup_containment", dedup_containment, _containment_oracle)


# --------------------------------------------------------------- SQ8 codes

def embedding_quantize_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 adjunct: int8 scalar-quantization codes for every embedding
    dimension (operators/quantize.py — stats pass + broadcast encode,
    no corpus-sized shuffle). Output is exploded (vec_id, dim, code)
    rows: all-integer, so the oracle hash is exact."""
    from xero_api_etl_utilities_spark.operators.quantize import sq8_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_codes(emb, "vec_id", "embedding")


register(
    "embedding_quantize_sq8",
    embedding_quantize_sq8,
    """
WITH d AS (
  SELECT vec_id, CAST(r.i - 1 AS INT) AS dim, CAST(embedding[r.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
), st AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim
)
SELECT d.vec_id, d.dim,
  CAST(CASE WHEN st.mx - st.mn > 0
            THEN floor(((d.x - st.mn) * 255.0) / (st.mx - st.mn) + 0.5)
            ELSE 0 END AS INT) AS code
FROM d JOIN st USING (dim)
""",
)


# --------------------------------------------------------- per-group top-k

def sample_per_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 continuation: exactly 20 documents per source, chosen by
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
    """X6 continuation: deterministic downsampling toward a target
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


# -------------------------------------------------------- inter-arrival

def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 continuation: per-user inter-event gap statistics in integer
    microseconds — min / max / LOWER-MEDIAN gap (the element at rank
    (n+1) div 2, a pure integer convention both engines implement
    identically; an averaged even-count median would reintroduce
    fractional values). Gaps come from ``timestampdiff`` on the
    TIMESTAMP_NTZ column — calendar arithmetic, no timezone or epoch
    conversion anywhere. Users with a single event have no gap and
    drop out.

    Scale shape: one hash-partitioned window sort per user for the
    lag, then per-user aggregation — the same shuffle key end-to-end,
    so AQE coalesces it into one exchange; nothing is corpus-quadratic
    and the median needs no global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)").alias("gap_us"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("gap_us")
    wc = Window.partitionBy("user_id")
    med = (
        g.withColumn("rn", F.row_number().over(w2))
        .withColumn("cnt", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == F.expr("(cnt + 1) div 2"))
        .select("user_id", F.col("gap_us").alias("med_gap_us"))
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )
    return agg.join(med, "user_id").select(
        "user_id", "n_gaps", "min_gap_us", "max_gap_us", F.col("med_gap_us").cast("bigint").alias("med_gap_us")
    )


register(
    "events_interarrival",
    events_interarrival,
    """
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_us
  FROM events
  QUALIFY lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL
), m AS (
  SELECT user_id, gap_us AS med_gap_us
  FROM (SELECT user_id, gap_us,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM g)
  WHERE rn = (cnt + 1) // 2
), a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
         CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
  FROM g GROUP BY user_id
)
SELECT a.user_id, a.n_gaps, a.min_gap_us, a.max_gap_us,
       CAST(m.med_gap_us AS BIGINT) AS med_gap_us
FROM a JOIN m USING (user_id)
""",
)


# ------------------------------------------------------ multimodal decode

def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 made driver-visible: deterministic 4×4 P6 PPM bytes per
    doc_id (operators/multimodal.synth_ppm_media — the binary-source
    stand-in, since the driver testdata ships no media column) pushed
    through the REAL stdlib codec chain: decode → integer gray block
    sums → nearest-neighbor resize → P6 re-encode → second decode →
    resized-pixel grays. The oracle predicts every output in closed
    form from the generation rule WITHOUT decoding, so a wrong byte
    anywhere in the decode/resize/encode path hash-mismatches."""
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_ppm_media(docs, "doc_id", width=4, height=4)
    return mm.decode_gray_blocks(media, resize_to=(2, 2))


def _gray_sql(p: int) -> str:
    terms = " + ".join(f"((doc_id*31 + {3 * p + c}) % 256)" for c in range(3))
    return f"(({terms}) // 3)"


# 16 pixels in blocks of 2; resize 4x4 -> 2x2 picks src pixels
# p = 8y + 2x for (x, y) in row-major order: 0, 2, 8, 10
_MM_F = ",\n  ".join(
    f"CAST({_gray_sql(2 * j)} + {_gray_sql(2 * j + 1)} AS BIGINT) AS f{j}"
    for j in range(8)
)
_MM_R = ",\n  ".join(
    f"CAST({_gray_sql(p)} AS BIGINT) AS r{k}" for k, p in enumerate([0, 2, 8, 10])
)

register(
    "multimodal_decode_features",
    multimodal_decode_features,
    f"""
SELECT doc_id AS media_id,
  {_MM_F},
  CAST(2 AS INT) AS rw, CAST(2 AS INT) AS rh,
  {_MM_R}
FROM documents
""",
)


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4's audio half made driver-visible (r4 — closes the last
    decode gate): deterministic 16-bit PCM WAV bytes per doc_id
    (operators/multimodal.synth_wav_media; rate/channels/frames and
    every sample are closed-form in doc_id) pushed through the REAL
    stdlib RIFF decoder (functions/audiocodec.py) to per-channel
    integer stats. The oracle regenerates the same samples in SQL via
    generate_series and aggregates them — a wrong byte anywhere in
    the encode→chunk-walk→int16 decode path hash-mismatches."""
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_wav_media(docs, "doc_id")
    return mm.decode_audio_stats(media)


register(
    "multimodal_audio_features",
    multimodal_audio_features,
    """
WITH base AS (
  SELECT doc_id,
         8000 + (doc_id % 3) * 4000 AS rate,
         1 + (doc_id % 2) AS n_ch,
         200 + (doc_id % 5) * 50 AS n_fr
  FROM documents
), ch AS (
  SELECT doc_id, rate, n_ch, n_fr, unnest(generate_series(0, n_ch - 1)) AS c
  FROM base
), s AS (
  SELECT doc_id, rate, n_ch, n_fr, c,
         ((doc_id * 37 + i * 13 + c * 7) % 4001) - 2000 AS v
  FROM (SELECT ch.*, unnest(generate_series(0, n_fr - 1)) AS i FROM ch)
)
SELECT doc_id AS media_id,
       CAST(rate AS INT) AS sample_rate,
       CAST(n_ch AS INT) AS n_channels,
       CAST(n_fr AS BIGINT) AS n_frames,
       CAST(n_fr * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(c AS INT) AS channel,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * v) AS BIGINT) AS s_sumsq,
       CAST(MIN(v) AS BIGINT) AS s_min,
       CAST(MAX(v) AS BIGINT) AS s_max
FROM s
GROUP BY doc_id, rate, n_ch, n_fr, c
""",
)


# ------------------------------------------------- gap-fill / transitions

def events_daily_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 continuation: resample each user's event stream to a DAILY
    grid with forward-fill — the canonical time-series densification
    (metrics dashboards, feature snapshots). Last observation per
    (user, day) — deterministic rn=1 under (ts, event_id) DESC — then
    the user's [first_day, last_day] calendar via sequence+explode,
    left join, and ``last(value, ignorenulls=True)`` over an
    unbounded-preceding window.

    Scale shape: everything keys on user_id (AQE reuses one exchange);
    the calendar explode is bounded by each user's day span — no
    global calendar cross join, no range sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    lastday = (
        ev.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("_obs"))
    )
    span = lastday.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cal.join(lastday, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("_obs", ignorenulls=True).over(wff).alias("value"),
            F.col("_obs").isNotNull().alias("observed"),
        )
    )


register(
    "events_daily_fill_forward",
    events_daily_fill_forward,
    """
WITH lastday AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value AS obs
  FROM events
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                             ORDER BY ts DESC, event_id DESC) = 1
), span AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM lastday GROUP BY user_id
), cal AS (
  SELECT user_id, CAST(gs.d AS DATE) AS day
  FROM span, UNNEST(generate_series(CAST(d0 AS TIMESTAMP),
                                    CAST(d1 AS TIMESTAMP),
                                    INTERVAL 1 DAY)) AS gs(d)
)
SELECT c.user_id, c.day,
  last_value(l.obs IGNORE NULLS) OVER (
    PARTITION BY c.user_id ORDER BY c.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
  l.obs IS NOT NULL AS observed
FROM cal c LEFT JOIN lastday l ON l.user_id = c.user_id AND l.day = c.day
""",
)


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 continuation: event-type transition counts — for each user,
    consecutive (prev_type → type) bigrams under (ts, event_id) order,
    aggregated corpus-wide. The Markov-chain view of user behavior
    (and the input to next-action models). One user-keyed window + one
    combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


register(
    "events_transition_matrix",
    events_transition_matrix,
    """
SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
) t WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)


# --------------------------------------------------- cluster-size report

def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 reporting face: the duplicate-cluster SIZE HISTOGRAM —
    (cluster_size, number of clusters that size, docs covered). The
    number a corpus owner actually reads after a dedup run ("how much
    of my corpus is 2x-duplicated vs 100x boilerplate?"). Reuses the
    ONE materialized clusters frame (corpus_ops.doc_clusters) — the
    connected-components propagation does not re-run for the report."""
    from xero_api_etl_utilities_spark.plans import corpus_ops

    cl = corpus_ops.doc_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


def _cluster_sizes_oracle() -> str:
    from xero_api_etl_utilities_spark.plans import sketch_oracles as sk

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


# ------------------------------------------------ trailing range window

def events_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X26 continuation: per-user TRAILING 7-DAY window over the
    daily rollup — a RANGE (event-time interval) frame, not a ROWS
    frame: days with no activity still age out of the window, which
    rows-preceding frames get wrong. Spark side orders by integer
    epoch-day with rangeBetween(-6, 0); the oracle's
    ``RANGE BETWEEN INTERVAL 6 DAY PRECEDING`` over the date column is
    the same frame because days are integers. Money stays in the
    decimal convention end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.sum("n_events").over(w).cast("bigint").alias("trailing_events"),
        F.round(F.sum("_v").over(w), 2).cast("double").alias("trailing_value"),
    )


register(
    "events_trailing_7d",
    events_trailing_7d,
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS v
  FROM events GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, day, n_events,
  CAST(SUM(n_events) OVER w AS BIGINT) AS trailing_events,
  CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS trailing_value
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
""",
)


# ------------------------------------------------- winsorized aggregate

def agg_winsorized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust-statistics staple: per-returnflag revenue with values
    CLIPPED at the nearest-rank P05/P95 (winsorization — the standard
    way to report a mean that one fat-finger price cannot move).
    All integer: cents ranks via row_number, bounds at ranks
    ceil(n/20) and ceil(19n/20), clipped sum in BIGINT cents, mean via
    the exact (2s+n) div 2n half-up convention. One shuffle on the
    group key; bounds re-broadcast (groups-sized frame)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("vc")
    )
    c = li.select(F.col("l_returnflag").alias("flag"), cents)
    gw = Window.partitionBy("flag")
    ranked = c.withColumn("rn", F.row_number().over(gw.orderBy("vc"))).withColumn(
        "n", F.count(F.lit(1)).over(gw)
    )
    bounds = ranked.groupBy("flag").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("vc"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("vc"))).alias("hi"),
        F.max("n").cast("bigint").alias("n_values"),
    )
    clipped = c.join(F.broadcast(bounds), "flag").select(
        "flag",
        "n_values",
        F.least(F.greatest(F.col("vc"), F.col("lo")), F.col("hi")).alias("cv"),
        "lo",
        "hi",
    )
    return clipped.groupBy("flag", "n_values", "lo", "hi").agg(
        F.sum("cv").alias("_s")
    ).select(
        "flag",
        "n_values",
        (F.col("lo").cast("double") / F.lit(100.0)).alias("p05_clip"),
        (F.col("hi").cast("double") / F.lit(100.0)).alias("p95_clip"),
        (F.col("_s").cast("double") / F.lit(100.0)).alias("winsorized_sum"),
        (
            F.expr("(2 * _s + n_values) div (2 * n_values)").cast("double")
            / F.lit(100.0)
        ).alias("winsorized_mean"),
    )


register(
    "agg_winsorized_revenue",
    agg_winsorized_revenue,
    """
WITH c AS (
  SELECT l_returnflag AS flag,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
  FROM lineitem
), r AS (
  SELECT flag, vc,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY vc) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM c
), b AS (
  SELECT flag,
         MAX(CASE WHEN rn = (n + 19) // 20 THEN vc END) AS lo,
         MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN vc END) AS hi,
         CAST(MAX(n) AS BIGINT) AS n_values
  FROM r GROUP BY flag
), s AS (
  SELECT c.flag, b.n_values, b.lo, b.hi,
         SUM(LEAST(GREATEST(c.vc, b.lo), b.hi)) AS sclip
  FROM c JOIN b ON c.flag = b.flag
  GROUP BY c.flag, b.n_values, b.lo, b.hi
)
SELECT flag, n_values,
  CAST(lo AS DOUBLE) / 100 AS p05_clip,
  CAST(hi AS DOUBLE) / 100 AS p95_clip,
  CAST(sclip AS DOUBLE) / 100 AS winsorized_sum,
  CAST((2 * sclip + n_values) // (2 * n_values) AS DOUBLE) / 100 AS winsorized_mean
FROM s
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
        salt="wlen",
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


# the PQ index (codebooks + encoded corpus) materializes once per
# session: one encode feeds both the code-dump query and the ADC
# search.
@session_memo("pq_index")
def _pq_index(spark: SparkSession, sf_dir: str):
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        pq_codes,
        train_pq_codebooks_from_parquet,
    )

    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf.train_centroids(emb, k=16, iters=4, sample=1000)
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    cells = ivf.assign_cells(emb, cents, "embedding", 1).select("vec_id", "cell")
    codes = pq_codes(emb, "vec_id", "embedding", books)
    index = cells.join(codes, "vec_id").localCheckpoint()
    return cents, books, index


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X23 second half — PRODUCT quantization (FAISS PQ recipe): the
    64-dim embedding splits into 4 subvectors, each encoded as its
    nearest centroid in a per-subspace L2 codebook (16 codes → 4
    bytes/vector vs 256 for float32). Training is a bounded
    driver-side sample (standard PQ recipe, same contract as IVF
    seeding); ENCODING is the distributed part — a pure scan
    projection against inlined centroid literals, zero shuffle, zero
    Python. The oracle re-runs the identical argmin on bit-identical
    codebooks (fixed-association distance sums; struct-sort ties)."""
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        pq_codes,
        train_pq_codebooks_from_parquet,
    )

    _, _, index = _pq_index(spark, sf_dir)
    return index.select("vec_id", "code_0", "code_1", "code_2", "code_3")


def _pq_oracle() -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )

    sf_dir = oracle_sf_dir()
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    ds = len(books[0][0])
    sel = []
    for s, book in enumerate(books):
        dists = []
        for c in book:
            terms = " + ".join(
                f"(v[{s * ds + d + 1}] - {float(cd)!r}) * (v[{s * ds + d + 1}] - {float(cd)!r})"
                for d, cd in enumerate(c)
            )
            dists.append(f"({terms})")
        lst = f"[{', '.join(dists)}]"
        sel.append(
            f"CAST(list_position({lst}, list_min({lst})) - 1 AS INT) AS code_{s}"
        )
    cols = ",\n  ".join(sel)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id,
  {cols}
FROM e
"""


register("embedding_pq_codes", embedding_pq_codes, _pq_oracle)


def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #3 — IVF-PQ with asymmetric distance: candidates
    from probed cells, scored from 4-byte PQ codes via per-query
    distance tables (operators/ivf.topk_ivf_pq). The searchable index
    never materializes a float vector; this is the shape that holds
    when the corpus embedding table itself is too large to scan per
    query. Oracle recomputes cells, codes and the ADC sum on
    bit-identical centroid/codebook literals."""
    import os as _os

    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index
    )


def _ivfpq_oracle() -> str:
    return _ivfpq_oracle_sql(rerank=None)


def _ivfpq_rerank_oracle() -> str:
    return _ivfpq_oracle_sql(rerank=50)


def _ivfpq_oracle_sql(rerank: int | None) -> str:
    import os as _os

    from xero_api_etl_utilities_spark.operators.ivf import (
        train_centroids_from_parquet,
    )
    from xero_api_etl_utilities_spark.operators.quantize import (
        train_pq_codebooks_from_parquet,
    )
    from xero_api_etl_utilities_spark.plans.sketch_oracles import _vec_lit

    sf_dir = oracle_sf_dir()
    cents = train_centroids_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet"), k=16, iters=4, sample=1000
    )
    books = train_pq_codebooks_from_parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    )
    ds = len(books[0][0])
    cell_structs = ", ".join(
        f"{{'d': list_dot_product(v, {_vec_lit(c)}), 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    cells = f"list_transform(list_reverse(list_sort([{cell_structs}])), s -> s.cell)"
    # per-subspace code: argmin over sorted (distance, code) structs,
    # distances with the SAME fixed association as the Spark encode
    code_cols = []
    for s, book in enumerate(books):
        dists = []
        for c in book:
            terms = " + ".join(
                f"(v[{s * ds + d + 1}] - {float(cd)!r}) * (v[{s * ds + d + 1}] - {float(cd)!r})"
                for d, cd in enumerate(c)
            )
            dists.append(f"({terms})")
        lst = f"[{', '.join(dists)}]"
        code_cols.append(
            f"list_position({lst}, list_min({lst})) - 1 AS code_{s}"
        )
    book_lits = ", ".join(
        "[" + ", ".join(_vec_lit(c) for c in book) + f"] AS b{s}"
        for s, book in enumerate(books)
    )
    # ADC score: for subspace s the selected centroid is b{s}[code_s+1];
    # the 16-term distance sum uses the same left-to-right association
    score_terms = " + ".join(
        "("
        + " + ".join(
            f"(eq.v[{s * ds + d + 1}] - b{s}[c.code_{s} + 1][{d + 1}])"
            f" * (eq.v[{s * ds + d + 1}] - b{s}[c.code_{s} + 1][{d + 1}])"
            for d in range(ds)
        )
        + ")"
        for s in range(len(books))
    )
    base = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), books AS (
  SELECT {book_lits}
), corpus AS (
  SELECT vec_id, ({cells})[1] AS cell, {", ".join(code_cols)} FROM e
), probes AS (
  SELECT vec_id, UNNEST(({cells})[1:4]) AS cell
  FROM e WHERE vec_id < 20
), scored AS (
  SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
         {score_terms} AS sc
  FROM probes p
  JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.vec_id
  JOIN e eq ON eq.vec_id = p.vec_id
  CROSS JOIN books
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sc ASC, neighbor_id ASC) AS rank
  FROM scored
)"""
    if rerank is None:
        return (
            base
            + """
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""
        )
    # refine: exact cosine over the ADC shortlist only (same
    # list_cosine_similarity primitive the exact-top-k oracle uses)
    return (
        base
        + f""", refined AS (
  SELECT r.query_id, r.neighbor_id,
         list_cosine_similarity(qe.v, ne.v) AS sim
  FROM ranked r
  JOIN e qe ON qe.vec_id = r.query_id
  JOIN e ne ON ne.vec_id = r.neighbor_id
  WHERE r.rank <= {rerank}
), reranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM refined
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
FROM reranked WHERE rank <= 5
"""
    )


register("similarity_topk_ivfpq", similarity_topk_ivfpq, _ivfpq_oracle)


def similarity_topk_ivfpq_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 scale completion — the SAME IVF-PQ ADC search forced down
    the >10k-queries path: per-query distance tables built in an
    Arrow-batched mapInPandas stage over the query frame (no driver
    collect, plain cell equi-join instead of a broadcast). The table
    math (_probe_tables) is shared verbatim with the driver-side
    builder, so both paths are bit-identical and this query reuses the
    exact-literal oracle of similarity_topk_ivfpq — a continuous proof
    that cloud-scale query fan-in returns the same ranks."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries,
        emb,
        centroids,
        books,
        k=5,
        nprobe=4,
        corpus_index=index,
        force_distributed=True,
    )


register("similarity_topk_ivfpq_dist", similarity_topk_ivfpq_dist, _ivfpq_oracle)


def similarity_topk_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X33 refine stage — IVF-PQ + exact re-rank (the FAISS
    IndexRefineFlat recipe, and the setting a production deployment
    should default to): ADC produces a 50-candidate shortlist per
    query from codes alone, then ONLY those candidates' float vectors
    are fetched (broadcast candidate frame → point-lookup equi-join;
    the corpus float table still never scans per query) and re-ranked
    by exact cosine. tools/ann_recall.py measures why this stage is
    not optional: pure-ADC recall@5 collapses to ~0.2 on a clustered
    corpus — true neighbors sit WITHIN PQ quantization error of each
    other, so their table distances tie and the shortlist order is
    arbitrary — while the reranked form restores recall to the IVF
    cell-probe ceiling (0.96 at nprobe=2, 1.0 at nprobe=4)."""
    from xero_api_etl_utilities_spark.operators import ivf

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index, rerank=50
    )


register(
    "similarity_topk_ivfpq_rerank", similarity_topk_ivfpq_rerank, _ivfpq_rerank_oracle
)


def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: energy VAD census through the REAL RIFF decode chain —
    synth 16-bit PCM per doc_id (the ``multimodal_audio_features``
    source rule), framed into 20 ms rate-dependent windows, each
    window judged active by integer cross-multiplied mean-|v| >=
    1000; per-clip window/active counts and active share in bp.  The
    silence-density gate an audio curation pipeline applies before
    paying an ASR labeler.  Oracle regenerates the same samples via
    generate_series and replays the same window algebra — a wrong
    byte ANYWHERE in encode -> chunk-walk -> int16 -> windowing
    hash-mismatches.  Bytes never shuffle (mapInPandas projection);
    the 1-in-10 doc slice keeps the oracle's generate_series frame
    DuckDB-sized at any sf."""
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    media = mm.synth_wav_media(docs, "doc_id")
    return mm.decode_audio_vad(media).orderBy("media_id")


_AUDIO_VAD_ORACLE = """
WITH base AS (
  SELECT doc_id,
         8000 + (doc_id % 3) * 4000 AS rate,
         1 + (doc_id % 2) AS n_ch,
         200 + (doc_id % 5) * 50 AS n_fr
  FROM documents WHERE doc_id % 10 = 0
), s AS (
  SELECT doc_id, rate, n_ch, n_fr, c, i,
         abs(((doc_id * 37 + i * 13 + c * 7) % 4001) - 2000) AS av,
         i // (rate * 20 // 1000) AS w
  FROM (SELECT base.*, unnest(generate_series(0, n_ch - 1)) AS c FROM base),
       unnest(generate_series(0, n_fr - 1)) AS t(i)
), win AS (
  SELECT doc_id, w, sum(av) AS e, count(*) AS n_samp
  FROM s GROUP BY doc_id, w
), judged AS (
  SELECT doc_id, count(*)::BIGINT AS n_windows,
    sum(CASE WHEN e >= 1000 * n_samp THEN 1 ELSE 0 END)::BIGINT AS n_active
  FROM win GROUP BY doc_id
)
SELECT doc_id AS media_id, n_windows, n_active,
  (n_active * 10000 // n_windows)::BIGINT AS active_bp
FROM judged ORDER BY media_id
"""

register("multimodal_audio_vad", multimodal_audio_vad, _AUDIO_VAD_ORACLE)


def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: ANN quality AS A QUERY — recall@5 of the production
    IVF-PQ + exact-rerank search against the brute-force cosine truth
    over the same probe set, driver-hash-verified: the X94 pattern
    (LSH recall/precision promoted into the catalog) applied to the
    similarity family, so the index's headline quality number is
    continuously verified instead of living only in
    tools/ann_recall.py.

    Engine stability: both sides are rank SETS already proven
    engine-stable (the exact truth is the similarity_label_purity
    ranking; the approx side is similarity_topk_ivfpq_rerank, green
    r6) — the census only counts their intersection.  Shape: the
    two shortlists are (20 x 5)-row frames; everything after the
    searches is dimension-sized."""
    from xero_api_etl_utilities_spark.operators import ivf
    from xero_api_etl_utilities_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, books, index = _pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    approx = ivf.topk_ivf_pq(
        queries, emb, centroids, books, k=5, nprobe=4, corpus_index=index,
        rerank=50,
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    truth = sim.topk_bruteforce(queries, emb, k=5, max_queries=100).select(
        "query_id", "neighbor_id"
    )
    return (
        truth.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            "n_queries",
            "n_truth",
            "n_hits",
            F.expr("n_hits * 10000 div n_truth").alias("recall_bp"),
        )
    )


def _ivfpq_recall_oracle() -> str:
    return f"""
WITH truth AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20) q
  JOIN embeddings c ON q.vec_id <> c.vec_id
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             c.vec_id ASC) <= 5
), approx AS (
  SELECT query_id, neighbor_id FROM ({_ivfpq_oracle_sql(rerank=50)})
), agg AS (
  SELECT count(DISTINCT t.query_id)::BIGINT AS n_queries,
    count(*)::BIGINT AS n_truth,
    count(a.query_id)::BIGINT AS n_hits
  FROM truth t
  LEFT JOIN approx a
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
)
SELECT n_queries, n_truth, n_hits,
  (n_hits * 10000 // n_truth)::BIGINT AS recall_bp
FROM agg
"""


register("similarity_ivfpq_recall", similarity_ivfpq_recall, _ivfpq_recall_oracle)


def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26 completion — trailing-baseline ANOMALY flags on the daily
    event-type rollup: a day is anomalous when its count deviates from
    the trailing 7-day mean by more than 50%. The comparison is pure
    integer cross-multiplication (|n·days − Σ|·2 > Σ ⟺
    |n − mean| > mean/2), so no float division ever reaches the hashed
    result — the same exactness contract as the quality-rule packs.
    The trailing frame is a RANGE over epoch-day (rows-preceding
    frames mis-age absent days); warm-up days (< 3 trailing days) are
    never flagged. At 100 TB the rollup is the only shuffle; the
    window runs per event_type over ~days-sized partitions."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-7, -1)
    )
    tn = F.count(F.lit(1)).over(w).cast("bigint")
    ts_ = F.sum("n").over(w).cast("bigint")
    dev = F.abs(F.col("n") * F.col("trailing_days") - F.col("trailing_sum"))
    return (
        daily.select(
            "day",
            "event_type",
            "n",
            tn.alias("trailing_days"),
            ts_.alias("trailing_sum"),
        )
        .withColumn(
            "anomaly",
            F.when(
                F.col("trailing_days") >= 3,
                2 * dev > F.col("trailing_sum"),
            ).otherwise(F.lit(False)),
        )
    )


register(
    "events_daily_anomalies",
    events_daily_anomalies,
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY CAST(ts AS DATE), event_type
), win AS (
  SELECT day, event_type, n,
    CAST(COUNT(*) OVER w AS BIGINT) AS trailing_days,
    CAST(SUM(n) OVER w AS BIGINT) AS trailing_sum
  FROM daily
  WINDOW w AS (PARTITION BY event_type
               ORDER BY datediff('day', DATE '1970-01-01', day)
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT day, event_type, n, trailing_days, trailing_sum,
  CASE WHEN trailing_days >= 3
       THEN 2 * abs(n * trailing_days - trailing_sum) > trailing_sum
       ELSE FALSE END AS anomaly
FROM win
""",
)


def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4's video half made driver-visible (r4): deterministic
    ISO-BMFF bytes per doc_id (operators/multimodal.synth_mp4_media —
    timescale/duration/tracks/dims closed-form in doc_id, mvhd/tkhd
    version alternating by parity so both 32- and 64-bit layouts are
    continuously exercised) pushed through the REAL stdlib box parser
    (functions/videometa.py) to planning metadata. Frame decode stays
    the documented external-codec plug-in — container metadata is the
    part that is honestly parseable without one, and it is what a
    pipeline partitions/samples on. The oracle predicts every integer
    from the generation rule without touching a byte."""
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_mp4_media(docs, "doc_id")
    return mm.decode_video_meta(media)


register(
    "multimodal_video_meta",
    multimodal_video_meta,
    """
WITH base AS (
  SELECT doc_id,
         600 + (doc_id % 4) * 300 AS ts,
         1200 + (doc_id % 7) * 600 AS dur,
         160 * (1 + doc_id % 3) AS w,
         120 * (1 + doc_id % 3) AS h
  FROM documents
)
SELECT doc_id AS media_id,
       'isom' AS brand,
       CAST(ts AS BIGINT) AS timescale,
       CAST(dur AS BIGINT) AS duration_units,
       CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
       CAST(1 + doc_id % 2 AS INT) AS n_tracks,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height
FROM base
""",
)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape completion (UNPIVOT landed r3; this is the PIVOT
    direction): the day × event-type count matrix, lowered by hand to
    conditional aggregates — ``sum(when(type = v, 1))`` per listed
    value — in ONE shuffle on the day key.

    Measured reason not to use ``groupBy().pivot(values)`` even with
    the value list explicit: Spark plans pivot as TWO aggregations —
    groupBy(day, type) count, Exchange on (day, type), then a
    ``pivotfirst`` re-aggregation with a SECOND Exchange on day
    (verified via explain on this very query) — double the shuffle of
    the conditional-agg form for a fixed small value set. (An UNLISTED
    pivot is worse still: an extra eager distinct-scan job at plan
    time to discover columns.) The audit pins this plan to a single
    hashpartitioning."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{t}")
            for t in _EVENT_TYPES
        ]
    )


register(
    "events_pivot_daily",
    events_pivot_daily,
    f"""
SELECT CAST(ts AS DATE) AS day,
  {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events
GROUP BY CAST(ts AS DATE)
""",
)


def events_user_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting rollup: per day — active users, NEW users
    (first-ever activity), returning = active − new, and CUMULATIVE
    distinct users to date. The scale shape matters: cumulative
    distinct is NOT a running count_distinct window (quadratic state,
    and Spark rightly refuses DISTINCT in windows) — it is first-seen
    day per user (one agg), then daily new-user counts, then a running
    SUM over the ~days-sized frame. Two fact-table aggs + one tiny
    window; nothing quadratic anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily_active = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users")
    )
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily_new = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily_active.join(daily_new, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
        )
        .repartition(1)  # ~30 rows: the running sum runs on the rollup
        .withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("bigint")
        )
        .withColumn(
            "returning_users",
            (F.col("active_users") - F.col("new_users")).cast("bigint"),
        )
    )


register(
    "events_user_accumulation",
    events_user_accumulation,
    """
WITH active AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
  FROM events GROUP BY CAST(ts AS DATE)
), fs AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), newu AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY day
)
SELECT a.day, a.active_users,
  CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
  CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users,
  CAST(a.active_users - COALESCE(n.new_users, 0) AS BIGINT) AS returning_users
FROM active a LEFT JOIN newu n ON a.day = n.day
""",
)


# ----------------------------------------------------- negative sampling

def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46: contrastive negative sampling — for every anchor document,
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


# ------------------------------------------- trailing-window distinct users

def events_trailing_7d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47: rolling 7-day DISTINCT users per day — the sliding-window
    metric whose naive form (a DISTINCT inside a RANGE window) Spark
    cannot express and a 100 TB engine must decompose anyway:
    (1) collapse the fact to DISTINCT (day, user) — the only
    fact-sized aggregate, after which everything is per-day-cardinality;
    (2) fan each deduped row out over the <=7 target days it serves —
    as an EXPLODE of sequence(day, day+6), a pure projection (a range
    join against the day list would plan as a broadcast nested loop;
    the explode form needs no join at all), semi-joined against the
    tiny real-day list to drop phantom targets past the horizon;
    (3) count distinct per target day. Fan-out is bounded by the
    window length and happens AFTER dedup — the lesson is the order:
    dedupe-then-fan-out shuffles |days|×users rows, fan-out-then-dedupe
    would shuffle 7× the raw fact."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("d")).distinct()
    fanned = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("d"),
        "user_id",
    )
    return (
        fanned.join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_7d"))
        .orderBy("d")
        .withColumnRenamed("d", "day")
    )


register(
    "events_trailing_7d_distinct",
    events_trailing_7d_distinct,
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day AS d FROM du)
SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
FROM du JOIN days ON datediff('day', du.day, d) BETWEEN 0 AND 6
GROUP BY d
ORDER BY d
""",
)


# ------------------------------------------------------- key-skew diagnosis

def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48: join-key skew diagnosis — the pre-flight a 100 TB pipeline
    runs before keying a shuffle on a column. One pass builds the
    per-key histogram; a second (tiny, key-cardinality) aggregate
    derives the skew verdict in exact integers: hottest key's share in
    basis points and how many keys exceed 2× the mean (cross-
    multiplied — ``cnt * n_keys > 2 * total`` — so no division ever
    runs). Reading the output: top1_share_bp >> 10000/n_keys means a
    degenerate hot key → route the join through salted_inner_join
    (operators/skew.py) or let AQE split it."""
    from xero_api_etl_utilities_spark.operators.materialize import materialize

    ev = load_table(spark, sf_dir, "events")
    # the only fact-sized pass; materialized because BOTH the totals
    # and the hot-key census read it (agg diamonds re-scan the fact
    # otherwise — the measured no-ReusedExchange finding, see q11)
    per_key = materialize(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("total")
    ).collect()[0]
    n_keys, total = int(tot["n_keys"]), int(tot["total"])
    return per_key.agg(
        F.lit(n_keys).cast("bigint").alias("n_keys"),
        F.lit(total).cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
        F.min("cnt").cast("bigint").alias("min_key_rows"),
        F.expr(f"max(cnt) * 10000 div {total}").cast("bigint").alias("top1_share_bp"),
        # keys heavier than 2x the mean, division-free:
        # cnt * n_keys > 2 * total
        F.sum(
            F.when(F.col("cnt") * F.lit(n_keys) > F.lit(2 * total), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_hot_keys"),
    )


register(
    "diag_key_skew",
    diag_key_skew,
    """
WITH per_key AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total FROM per_key)
SELECT CAST(n_keys AS BIGINT) AS n_keys,
  CAST(total AS BIGINT) AS total_rows,
  CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
  CAST(MIN(cnt) AS BIGINT) AS min_key_rows,
  CAST(MAX(cnt) * 10000 // total AS BIGINT) AS top1_share_bp,
  CAST(SUM(CASE WHEN cnt * n_keys > 2 * total THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hot_keys
FROM per_key CROSS JOIN tot
GROUP BY n_keys, total
""",
)


def events_trailing_7d_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47's 100 TB path: the same rolling 7-day distinct-user metric
    computed from MERGEABLE per-day HLL sketches — at scale you never
    re-touch user ids per window; each day contributes ONE fixed-size
    sketch (map-side combinable) and a window is hll_union of <= 7
    sketches. Here each day's sketch fans out to the windows it
    serves (same explode-not-range-join lowering as the exact form)
    and the union+estimate runs per target day. The exact count rides
    along and the published column is the honesty boolean — estimate
    within 5% — the same tolerance-oracle pattern as
    agg_approx_distinct_ok (sketch internals are engine-specific, so
    the DuckDB oracle asserts the exact count and TRUE)."""
    ev = load_table(spark, sf_dir, "events")
    day_sketch = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    days = day_sketch.select(F.col("day").alias("d")).distinct()
    fanned = day_sketch.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("d"),
        "sk",
    )
    approx = (
        fanned.join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx_7d"))
    )
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    exact = (
        du.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("d"),
            "user_id",
        )
        .join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_7d"))
    )
    return (
        exact.join(approx, "d")
        .select(
            F.col("d").alias("day"),
            "exact_7d",
            (
                F.abs(F.col("approx_7d") - F.col("exact_7d")) * 100
                <= 5 * F.col("exact_7d")
            ).alias("approx_ok"),
        )
        .orderBy("day")
    )


register(
    "events_trailing_7d_distinct_approx",
    events_trailing_7d_distinct_approx,
    """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day AS d FROM du)
SELECT d AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_7d,
  TRUE AS approx_ok
FROM du JOIN days ON datediff('day', du.day, d) BETWEEN 0 AND 6
GROUP BY d
ORDER BY d
""",
)


# ---------------------------------------------------------------------------
# X104: image average-hash near-dup pairs (r6)
# ---------------------------------------------------------------------------


def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104: IMAGE near-dup pairs — the multimodal member of the dedup
    family: deterministic 8x8 P6 PPM bytes per doc_id (the same
    synth-media stand-in as multimodal_decode_features, pixel byte i
    of image d = (d*31 + i) % 256) pushed through the REAL stdlib
    decoder to a 64-bit average-hash (operators/multimodal.ahash64),
    then paired by the SAME 16-bit banding + exact-Hamming verify the
    text SimHash path uses (dedup.simhash_near_dups) — image dedup as
    fingerprint algebra, pixels never shuffle.

    The generation rule makes ground truth analytic: (d*31) % 256 has
    period 256 in d, so documents 256 apart render IDENTICAL images
    (Hamming 0) — the oracle predicts every fingerprint in closed form
    from the rule WITHOUT decoding, re-runs banding + bit_count in
    SQL, and a wrong byte anywhere in the encode -> decode -> gray ->
    threshold path hash-mismatches."""
    from xero_api_etl_utilities_spark.operators import dedup as dd
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = mm.synth_ppm_media(docs, "doc_id", width=8, height=8)
    fps = mm.ahash64(media)
    return (
        dd.simhash_near_dups(
            fps, max_hamming=3, doc_col="media_id", fp_col="ahash"
        )
        .orderBy("doc_a", "doc_b")
    )


_AH_GRAY = (
    "((((doc_id*31 + 3*p) % 256) + ((doc_id*31 + 3*p + 1) % 256)"
    " + ((doc_id*31 + 3*p + 2) % 256)) // 3)"
)

_AHASH_PAIRS_ORACLE = f"""
WITH m AS (
  SELECT doc_id,
    list_sum(list_transform(range(0, 64), p -> {_AH_GRAY})) // 64 AS mean_g
  FROM documents
), fps AS (
  SELECT doc_id AS doc,
    CAST(CASE WHEN ufp >= 9223372036854775808::HUGEINT
              THEN ufp - 18446744073709551616::HUGEINT
              ELSE ufp END AS BIGINT) AS fp
  FROM (
    SELECT doc_id,
      list_sum(list_transform(range(0, 64), p ->
        CASE WHEN {_AH_GRAY} > mean_g THEN (1::HUGEINT << p)
             ELSE 0::HUGEINT END))::HUGEINT AS ufp
    FROM m
  )
), banded AS (
  SELECT doc, fp, b.band AS band, (fp >> (16 * b.band)) & 65535 AS bv
  FROM fps, (VALUES (0), (1), (2), (3)) b(band)
  QUALIFY COUNT(*) OVER (PARTITION BY b.band, (fp >> (16 * b.band)) & 65535)
    <= 2000
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc
) WHERE hamming <= 3
ORDER BY doc_a, doc_b
"""

register("multimodal_ahash_pairs", multimodal_ahash_pairs, _AHASH_PAIRS_ORACLE)


# ---------------------------------------------------------------------------
# X111: per-dimension SQ8 health census (dead/coarse dimension detector)
# ---------------------------------------------------------------------------


def embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: the "is my vector index wasting bytes" diagnostic — for
    every embedding dimension, the SQ8 code census: how many distinct
    8-bit levels the dimension actually uses (``n_levels``), the code
    range, and the EXACT integer code variance as the cross-multiplied
    rational numerator ``n·Σc² − (Σc)²`` (the X53 convention, VARCHAR
    both sides so pandas dtype drift can never fail the hash).  A
    ``dead`` dimension (one level) carries zero signal and its byte
    should be dropped from the code; a ``coarse`` one (<16 levels)
    signals the train-set min/max clipped the live range — the two
    pathologies every FAISS-style SQ index audit looks for.

    Shape: the corpus-sized explode feeds a (dim, code) HISTOGRAM
    aggregate first — map-side combine collapses onto <= dims×256
    cells, so the second (per-dim) aggregate and everything after it
    run on a bounded frame no matter the corpus size.  Variance over
    the histogram (Σ code·cnt, Σ code²·cnt) is exactly the
    sufficient-statistics pass, just pre-binned — order-independent,
    digit-exact, no floats anywhere past the quantizer itself."""
    from xero_api_etl_utilities_spark.operators.quantize import sq8_codes

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq8_codes(emb, "vec_id", "embedding")
    hist = codes.groupBy("dim", "code").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    d38 = "decimal(38,0)"
    per_dim = hist.groupBy("dim").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("n_levels"),
        F.min("code").alias("c_min"),
        F.max("code").alias("c_max"),
        F.sum((F.col("code").cast("long") * F.col("cnt")).cast(d38)).alias("s"),
        F.sum(
            (
                F.col("code").cast("long") * F.col("code") * F.col("cnt")
            ).cast(d38)
        ).alias("ss"),
    )
    return per_dim.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_levels").cast("bigint").alias("n_levels"),
        F.col("c_min").cast("int").alias("c_min"),
        F.col("c_max").cast("int").alias("c_max"),
        (F.col("n").cast(d38) * F.col("ss") - F.col("s") * F.col("s"))
        .cast(d38)
        .cast("string")
        .alias("var_num"),
        F.when(F.col("n_levels") == 1, F.lit("dead"))
        .when(F.col("n_levels") < 16, F.lit("coarse"))
        .otherwise(F.lit("ok"))
        .alias("health"),
    ).orderBy("dim")


register(
    "embedding_dim_health",
    embedding_dim_health,
    """
WITH d AS (
  SELECT vec_id, CAST(r.i - 1 AS INT) AS dim,
         CAST(embedding[r.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
), st AS (
  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim
), codes AS (
  SELECT d.vec_id, d.dim,
    CAST(CASE WHEN st.mx - st.mn > 0
              THEN floor(((d.x - st.mn) * 255.0) / (st.mx - st.mn) + 0.5)
              ELSE 0 END AS INT) AS code
  FROM d JOIN st USING (dim)
), hist AS (
  SELECT dim, code, CAST(count(*) AS HUGEINT) AS cnt
  FROM codes GROUP BY 1, 2
), pd AS (
  SELECT dim, sum(cnt) AS n, count(*) AS n_levels,
         min(code) AS c_min, max(code) AS c_max,
         sum(code * cnt) AS s, sum(code * code * cnt) AS ss
  FROM hist GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
  CAST(n_levels AS BIGINT) AS n_levels, c_min, c_max,
  CAST(CAST(n * ss - s * s AS DECIMAL(38,0)) AS VARCHAR) AS var_num,
  CASE WHEN n_levels = 1 THEN 'dead' WHEN n_levels < 16 THEN 'coarse'
       ELSE 'ok' END AS health
FROM pd ORDER BY dim
""",
)
