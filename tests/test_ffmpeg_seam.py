"""Opt-in REAL-codec seam test for the X147 frame-extract slot
(VERDICT r9 stretch item): run with

    XERO_SPARK_FFMPEG=1 python -m pytest tests/test_ffmpeg_seam.py

on a machine with ffmpeg on PATH.  Skipped otherwise (this sandbox
ships no codec — the slot's default NotImplementedError is the
documented boundary, see operators/multimodal.external_frame_decode).

The test is the production recipe, end to end: a real playable MP4
(ffmpeg lavfi testsrc), the stdlib ISO-BMFF parser planning the frame
grid from its real moov box, an ffmpeg-backed extractor plugged into
``decode_fn`` emitting P6 PPM (the same format fake_frame_decode
emits, so the downstream stdlib image codec is unchanged), and the
sampled thumbnails decoding to the requested geometry.
"""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

_ENABLED = (
    os.environ.get("XERO_SPARK_FFMPEG") == "1"
    and shutil.which("ffmpeg") is not None
)

pytestmark = pytest.mark.skipif(
    not _ENABLED,
    reason="real-codec seam: set XERO_SPARK_FFMPEG=1 with ffmpeg on PATH",
)


def ffmpeg_frame_extract(content: bytes, ts_ms: int, width: int, height: int) -> bytes:
    """Production-shaped extractor for the X147 plug-in slot: seek to
    ``ts_ms``, decode one frame, scale to the planned geometry, emit
    P6 PPM on stdout — bytes in, bytes out, no temp files."""
    w, h = (width or 8), (height or 6)
    cmd = [
        "ffmpeg", "-v", "error",
        "-ss", f"{ts_ms / 1000:.3f}",
        "-i", "pipe:0",
        "-frames:v", "1",
        "-s", f"{w}x{h}",
        "-f", "image2", "-vcodec", "ppm",
        "pipe:1",
    ]
    p = subprocess.run(cmd, input=content, capture_output=True, check=True)
    return p.stdout


def test_frame_sample_chain_with_real_ffmpeg(spark, tmp_path):
    from xero_api_etl_utilities_spark.functions.imagecodec import decode_image
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    # a real 3 s 160x120 10 fps video, faststart so moov leads
    src = str(tmp_path / "test.mp4")
    subprocess.run(
        [
            "ffmpeg", "-v", "error",
            "-f", "lavfi", "-i", "testsrc=duration=3:size=160x120:rate=10",
            "-movflags", "+faststart",
            "-pix_fmt", "yuv420p",
            src,
        ],
        check=True,
    )
    with open(src, "rb") as f:
        blob = f.read()
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id bigint, content binary"
    )

    frames = mm.sample_video_frames(media, decode_fn=ffmpeg_frame_extract).collect()

    # grid planned from the REAL container metadata: ~3 s at 2 fps
    assert 4 <= len(frames) <= 8, [r["ts_ms"] for r in frames]
    for i, r in enumerate(sorted(frames, key=lambda r: r["frame_idx"])):
        assert r["frame_idx"] == i and r["ts_ms"] == i * 500
        w, h, _c, px = decode_image(bytes(r["frame"]))
        assert (w, h) == (r["width"], r["height"]) == (160, 120)
        assert len(px) == 160 * 120 * 3
