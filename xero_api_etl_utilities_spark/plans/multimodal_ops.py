"""Multimodal catalog queries: the ``multimodal_`` family.

Image decode and features, audio features and voice activity, video
container metadata, perceptual-hash near-duplicate pairs and the video
frame-sampling chain, over media synthesized deterministically per
``documents`` row (the test tables have no media column).  No
reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xero_api_etl_utilities_spark.plans.catalog import register
from xero_api_etl_utilities_spark.sources.parquet import load_table


# ------------------------------------------------------ multimodal decode

def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode made driver-visible: deterministic 4×4 P6 PPM bytes per
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
    return mm.decode_gray_blocks(media)


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
    """The audio half made driver-visible (closes the last decode
    gate): deterministic 16-bit PCM WAV bytes per doc_id
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


def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy VAD census through the REAL RIFF decode chain —
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


def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video half made driver-visible: deterministic
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


# ---------------------------------------------------------------------------
# image average-hash near-dup pairs
# ---------------------------------------------------------------------------


def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup pairs — the multimodal member of the dedup
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
        dd.simhash_near_dups(fps, doc_col="media_id", fp_col="ahash")
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
# video frame-sample + thumbnail-feature chain
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
