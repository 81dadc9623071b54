"""Multimodal columns: media as opaque ``binary`` columns.

Images, audio and video are carried as ``binary`` columns, following
the binaryFile-source pattern the reference uses for workbook
attachments (S10, src/helpers.ts:74-80), and decoded in Arrow-batched
``mapInPandas`` stages.  Three formats decode through pure-stdlib
codecs, golden-byte tested like the xlsx decoder: images (PNG via zlib
inflate and full filter reconstruction, 24-bit BMP, P6 PPM —
functions/imagecodec.py), audio (16-bit PCM WAV RIFF walk —
functions/audiocodec.py), and video container metadata (ISO-BMFF/MP4
box parse: mvhd duration/timescale, tkhd track dims —
functions/videometa.py).  Video frame decode needs an external codec
(ffmpeg), so it is a plug-in: ``sample_video_frames(decode_fn=)``.

Scale notes: media rows are large — the operators never shuffle
content bytes (each stage is a projection of the media scan), and
``maxRecordsPerBatch`` bounds Arrow batch memory.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("channel", T.IntegerType(), True),
        T.StructField("s_sum", T.LongType(), True),
        T.StructField("s_sumsq", T.LongType(), True),
        T.StructField("s_min", T.LongType(), True),
        T.StructField("s_max", T.LongType(), True),
    ]
)


def synth_wav_media(ids: DataFrame, id_col: str) -> DataFrame:
    """Deterministic 16-bit PCM WAV bytes per id — the binary SOURCE
    stand-in for corpora without an audio column (like synth_ppm_media
    for images). Per id ``d``: rate = 8000 + (d%3)*4000, channels =
    1 + d%2, frames = 200 + (d%5)*50, and sample i of channel c is
    ``((d*37 + i*13 + c*7) % 4001) - 2000``. Closed-form by design so
    a SQL oracle can predict what the REAL decoder must extract from
    the bytes without itself parsing anything."""
    from xero_api_etl_utilities_spark.functions.audiocodec import encode_wav

    def _gen(batches) -> Iterator:
        import pandas as pd

        def wav(d: int) -> bytes:
            rate = 8000 + (d % 3) * 4000
            n_ch = 1 + d % 2
            n_fr = 200 + (d % 5) * 50
            chans = [
                [((d * 37 + i * 13 + c * 7) % 4001) - 2000 for i in range(n_fr)]
                for c in range(n_ch)
            ]
            return encode_wav(rate, chans)

        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "content": [wav(int(d)) for d in pdf[id_col]]}
            )

    return ids.mapInPandas(_gen, schema="media_id bigint, content binary")


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """Integer audio features through the FULL decoder: RIFF chunk
    walk → int16 frames → per-channel sum / sum-of-squares / min /
    max, one output row per (media_id, channel). Every output is
    integer math over decoded bytes, so an oracle that knows the
    source generation rule checks the whole encode→decode chain
    value-exactly. Arrow-batched ``mapInPandas``; audio bytes never
    shuffle (the stage is a projection of the media scan)."""
    from xero_api_etl_utilities_spark.functions.audiocodec import audio_stats

    def _stats(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                st = audio_stats(bytes(c))
                for ch in st["channels"]:
                    rows.append(
                        [
                            int(d),
                            st["sample_rate"],
                            st["n_channels"],
                            st["n_frames"],
                            st["duration_ms"],
                            ch["channel"],
                            ch["s_sum"],
                            ch["s_sumsq"],
                            ch["s_min"],
                            ch["s_max"],
                        ]
                    )
            yield pd.DataFrame(
                rows, columns=[fld.name for fld in AUDIO_STATS_SCHEMA.fields]
            )

    return media.mapInPandas(_stats, schema=AUDIO_STATS_SCHEMA)


AUDIO_VAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_windows", T.LongType(), True),
        T.StructField("n_active", T.LongType(), True),
        T.StructField("active_bp", T.LongType(), True),
    ]
)


def decode_audio_vad(media: DataFrame) -> DataFrame:
    """Energy-based voice-activity detection through the FULL RIFF
    decoder: the int16 stream is framed into 20 ms windows
    (win_frames = rate * 20 // 1000 — rate-dependent, so a window
    always means the same wall-clock span); a window is ACTIVE when
    its mean absolute amplitude across all channels reaches 1000
    (integer cross-multiplied: sum|v| >= 1000 * n_samples — no
    division).  Output per media: window count, active
    count, active share in bp — the speech-density number an audio
    curation pipeline uses to drop silence-heavy clips before they
    reach an ASR labeler.

    Same execution contract as ``decode_audio_stats``: Arrow-batched
    ``mapInPandas`` projection of the media scan; audio bytes never
    shuffle.  The trailing partial window counts with its OWN sample
    count (cross-multiply, not padding), so short tails are judged
    fairly.  Window energies are numpy-vectorized (int64-exact: |v|
    <= 2^15 summed over channels × window samples stays far below
    2^63) — per-sample Python inside the Arrow batch is the
    row-at-a-time anti-pattern one level down."""
    from xero_api_etl_utilities_spark.functions.audiocodec import decode_wav

    def _vad(batches) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                rate, n_ch, n_fr, channels = decode_wav(bytes(c))
                win = max(rate * 20 // 1000, 1)
                if n_fr:
                    # per-frame |amplitude| summed across channels,
                    # then one reduceat per window boundary
                    arr = np.abs(
                        np.asarray(channels, dtype=np.int64).reshape(-1, n_fr)
                    )
                    tot = arr.sum(axis=0)
                    starts = np.arange(0, n_fr, win)
                    wsum = np.add.reduceat(tot, starts)
                    sizes = np.minimum(starts + win, n_fr) - starts
                    n_windows = int(starts.size)
                    n_active = int((wsum >= 1000 * sizes * n_ch).sum())
                else:
                    n_windows = n_active = 0
                bp = n_active * 10000 // n_windows if n_windows else 0
                rows.append([int(d), n_windows, n_active, bp])
            yield pd.DataFrame(
                rows, columns=[fld.name for fld in AUDIO_VAD_SCHEMA.fields]
            )

    return media.mapInPandas(_vad, schema=AUDIO_VAD_SCHEMA)


GRAY_BLOCKS_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType(), False)]
    + [T.StructField(f"f{j}", T.LongType(), True) for j in range(8)]
    + [
        T.StructField("rw", T.IntegerType(), True),
        T.StructField("rh", T.IntegerType(), True),
    ]
    + [T.StructField(f"r{k}", T.LongType(), True) for k in range(4)]
)


def synth_ppm_media(ids: DataFrame, id_col: str, width: int = 4, height: int = 4) -> DataFrame:
    """Deterministic P6 PPM bytes per id — the binary SOURCE stand-in
    for corpora that ship no media column (the driver testdata has
    none): pixel byte i of image ``d`` is ``(d*31 + i) % 256``. The
    generation rule is trivially closed-form, which is exactly the
    point — a SQL oracle can predict what the REAL decoder must
    extract from the bytes without itself decoding anything."""
    from xero_api_etl_utilities_spark.functions.imagecodec import encode_ppm

    n = width * height * 3

    def _gen(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "content": [
                        encode_ppm(
                            width, height, bytes((int(d) * 31 + i) % 256 for i in range(n))
                        )
                        for d in pdf[id_col]
                    ],
                }
            )

    return ids.mapInPandas(_gen, schema="media_id bigint, content binary")


def decode_gray_blocks(media: DataFrame) -> DataFrame:
    """Integer image features through the FULL codec path: decode the
    binary column (PNG/BMP/PPM sniffed from magic bytes) → per-pixel
    integer gray ((r+g+b) div 3) → 8 contiguous-block gray sums; then
    nearest-neighbor resize to 2×2 → P6 re-encode → SECOND real decode
    → the resized pixels' grays. Every output is integer math over decoded
    bytes, so an oracle that knows the source bytes can check the
    whole decode→resize→re-encode→decode chain value-exactly.

    Arrow-batched ``mapInPandas``; binary content never shuffles (the
    stage is a projection of the media scan)."""
    from xero_api_etl_utilities_spark.functions.imagecodec import (
        decode_image,
        encode_ppm,
        resize_nearest,
    )

    def _feats(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                w, h, _ch, px = decode_image(bytes(c))
                npx = w * h
                gray = [
                    (px[3 * p] + px[3 * p + 1] + px[3 * p + 2]) // 3 for p in range(npx)
                ]
                step = npx // 8
                f = [sum(gray[j * step : (j + 1) * step]) for j in range(8)]
                rpx = resize_nearest(w, h, px, 2, 2)
                w2, h2, _c2, px2 = decode_image(encode_ppm(2, 2, rpx))
                g2 = [
                    (px2[3 * p] + px2[3 * p + 1] + px2[3 * p + 2]) // 3
                    for p in range(w2 * h2)
                ]
                rows.append([int(d), *f, w2, h2, *g2[:4]])
            yield pd.DataFrame(
                rows, columns=[fld.name for fld in GRAY_BLOCKS_SCHEMA.fields]
            )

    return media.mapInPandas(_feats, schema=GRAY_BLOCKS_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("timescale", T.LongType(), True),
        T.StructField("duration_units", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_tracks", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def synth_mp4_media(ids: DataFrame, id_col: str) -> DataFrame:
    """Deterministic ISO-BMFF (MP4) bytes per id — the binary SOURCE
    stand-in for corpora without a video column. Per id ``d``:
    timescale = 600 + (d%4)·300, duration = 1200 + (d%7)·600 units,
    1 + d%2 tracks at (160·(1+d%3)) × (120·(1+d%3)) px (track 2, when
    present, at half size), and mvhd/tkhd version alternates d%2 so
    BOTH 32- and 64-bit box layouts flow through the real parser.
    Closed-form by design: the SQL oracle predicts what the parser
    must extract without touching a byte."""
    from xero_api_etl_utilities_spark.functions.videometa import encode_mp4_meta

    def _gen(batches) -> Iterator:
        import pandas as pd

        def mp4(d: int) -> bytes:
            ts = 600 + (d % 4) * 300
            dur = 1200 + (d % 7) * 600
            w, h = 160 * (1 + d % 3), 120 * (1 + d % 3)
            tracks = [(1, w, h)]
            if d % 2:
                tracks.append((2, w // 2, h // 2))
            return encode_mp4_meta(ts, dur, tracks, version=d % 2)

        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "content": [mp4(int(d)) for d in pdf[id_col]]}
            )

    return ids.mapInPandas(_gen, schema="media_id bigint, content binary")


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def external_frame_decode(
    content: bytes, ts_ms: int, width: int, height: int
) -> bytes:
    """The honest plug-in point for REAL video frame extraction: a
    pixel decode genuinely requires an external codec (ffmpeg — not
    in this container by design).  Production passes
    ``decode_fn=<ffmpeg-backed extractor>`` to
    :func:`sample_video_frames`; everything AROUND this call —
    container parse, frame grid, batch shape, output schema — is real
    and tested against :func:`fake_frame_decode`.  A tested
    production recipe (seek → one frame → scale → P6 PPM over pipes)
    lives in ``tests/test_ffmpeg_seam.py::ffmpeg_frame_extract`` —
    opt-in via ``XERO_SPARK_FFMPEG=1`` on a machine with ffmpeg."""
    raise NotImplementedError(
        "video frame decode needs an external codec (ffmpeg); pass "
        "decode_fn=<your extractor> to sample_video_frames — see "
        "fake_frame_decode for the deterministic test stand-in"
    )


def fake_frame_decode(content: bytes, ts_ms: int, width: int, height: int) -> bytes:
    """Deterministic closed-form stand-in for a keyframe-extract +
    thumbnail step: a REAL 8×6 P6 PPM thumbnail whose pixel byte ``i`` is
    ``(ts_ms * 7 + i) % 256`` — downstream image operators decode it
    with the real stdlib codec, and a SQL oracle predicts every
    derived integer without decoding anything (the synth_ppm_media
    rule applied to the time axis)."""
    from xero_api_etl_utilities_spark.functions.imagecodec import encode_ppm

    tw, th = 8, 6
    n = tw * th * 3
    return encode_ppm(tw, th, bytes((ts_ms * 7 + i) % 256 for i in range(n)))


def sample_video_frames(media: DataFrame, decode_fn=external_frame_decode) -> DataFrame:
    """Video frame SAMPLING plumbing: plan the frame grid from REAL
    container metadata (duration/timescale/dims via the stdlib
    ISO-BMFF parser — the part that is honestly parseable without a
    codec), emit one row per planned frame at 2 frames/sec (a 500 ms
    stride), and extract each frame through the pluggable
    ``decode_fn`` slot (default raises — see
    :func:`external_frame_decode`).

    Scale shape: Arrow-batched ``mapInPandas`` projection of the
    media scan — video bytes never shuffle; the output fan-out
    (frames >> videos) happens executor-side inside the batch, and
    per-video frame counts are bounded by duration × fps, never by
    the corpus.  Downstream ops shuffle only the (small) frame rows."""
    from xero_api_etl_utilities_spark.functions.videometa import video_meta

    def _sample(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                # one blob copy per VIDEO, not per planned frame (a copy
                # in the frame loop is O(frames x file_size) churn)
                cb = bytes(c)
                meta = video_meta(cb)
                w = int(meta["width"] or 0)
                h = int(meta["height"] or 0)
                for idx, ts in enumerate(range(0, meta["duration_ms"], 500)):
                    rows.append(
                        [
                            int(d),
                            idx,
                            ts,
                            w,
                            h,
                            decode_fn(cb, ts, w, h),
                        ]
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields]
            )

    return media.mapInPandas(_sample, schema=VIDEO_FRAME_SCHEMA)


def decode_video_meta(media: DataFrame) -> DataFrame:
    """Container metadata through the REAL ISO-BMFF box parser
    (functions/videometa.py): duration/timescale from mvhd, track
    count, first-track display dims from tkhd 16.16 fixed point —
    the planning metadata a pipeline needs BEFORE any frame decode
    (which remains the documented external-codec plug-in). All-integer
    outputs; Arrow-batched mapInPandas; video bytes never shuffle."""
    from xero_api_etl_utilities_spark.functions.videometa import video_meta

    def _meta(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                m = video_meta(bytes(c))
                rows.append(
                    [
                        int(d),
                        m["brand"],
                        m["timescale"],
                        m["duration_units"],
                        m["duration_ms"],
                        m["n_tracks"],
                        m["width"],
                        m["height"],
                    ]
                )
            yield pd.DataFrame(
                rows, columns=[fld.name for fld in VIDEO_META_SCHEMA.fields]
            )

    return media.mapInPandas(_meta, schema=VIDEO_META_SCHEMA)


def ahash64(media: DataFrame) -> DataFrame:
    """64-bit average-hash fingerprint per image, through the REAL
    codec path (X104): decode the binary column (PNG/BMP/PPM sniffed
    from magic bytes), per-pixel integer gray ((r+g+b) div 3), mean =
    sum div n_pixels, bit p set iff gray_p > mean.  The perceptual-
    hash baseline for IMAGE near-dup detection — the visual member of
    the fingerprint family next to text SimHash, and it plugs into
    the same 16-bit banding (``dedup.simhash_near_dups``) for pair
    generation, so image dedup shuffles 8-byte fingerprints, never
    pixels.

    Images must have <= 64 pixels for the 64-bit form (the standard
    aHash DOWNSAMPLES first — compose with ``decode_gray_blocks``'s
    resize path for larger sources).  The fingerprint is emitted as a
    SIGNED long (bit 63 wraps to the sign bit, the SimHash
    convention), so banding's logical shifts work identically in both
    engines.  Arrow-batched ``mapInPandas``; binary content never
    shuffles."""
    from xero_api_etl_utilities_spark.functions.imagecodec import decode_image

    def _h(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for d, c in zip(pdf["media_id"], pdf["content"]):
                w, h, _ch, px = decode_image(bytes(c))
                npx = w * h
                if npx > 64:
                    raise ValueError(
                        f"ahash64 needs <= 64 pixels, got {npx} — resize first"
                    )
                gray = [
                    (px[3 * p] + px[3 * p + 1] + px[3 * p + 2]) // 3
                    for p in range(npx)
                ]
                mean = sum(gray) // npx
                fp = 0
                for p, g in enumerate(gray):
                    if g > mean:
                        fp |= 1 << p
                if fp >= 1 << 63:
                    fp -= 1 << 64
                ids.append(d)
                fps.append(fp)
            yield pd.DataFrame(
                {"media_id": ids, "ahash": pd.array(fps, dtype="int64")}
            )

    return media.mapInPandas(_h, schema="media_id bigint, ahash bigint")
