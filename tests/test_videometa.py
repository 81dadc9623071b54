"""Byte-level tests for the stdlib ISO-BMFF metadata codec
(functions/videometa.py) — same golden-byte strategy as
test_imagecodec.py / test_audiocodec.py: hand-verified structures in,
exact integers out, malformed bytes fail loudly."""

from __future__ import annotations

import struct

import pytest

from xero_api_etl_utilities_spark.functions.videometa import (
    encode_mp4_meta,
    video_meta,
)


def test_roundtrip_v0_and_v1():
    for v in (0, 1):
        b = encode_mp4_meta(900, 1800, [(1, 320, 240), (2, 160, 120)], version=v)
        m = video_meta(b)
        assert m == {
            "brand": "isom",
            "timescale": 900,
            "duration_units": 1800,
            "duration_ms": 2000,
            "n_tracks": 2,
            "width": 320,
            "height": 240,
        }


def test_duration_ms_floors():
    # 1000 units at timescale 900 → 1111.11… ms → integer floor 1111
    m = video_meta(encode_mp4_meta(900, 1000, [(1, 64, 64)]))
    assert m["duration_ms"] == 1111


def test_no_tracks():
    m = video_meta(encode_mp4_meta(600, 600, []))
    assert m["n_tracks"] == 0 and m["width"] is None and m["height"] is None


def test_largesize_box_parses():
    """A moov re-wrapped with size==1 + u64 largesize must parse
    identically — real muxers emit largesize for >4 GiB boxes."""
    b = encode_mp4_meta(600, 1200, [(1, 128, 96)])
    # locate moov (follows the 16-byte ftyp)
    (moov_size,) = struct.unpack_from(">I", b, 16)
    moov = b[16 : 16 + moov_size]
    large = (
        struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 8 + len(moov))
        + moov[8:]
    )
    rebuilt = b[:16] + large + b[16 + moov_size :]
    assert video_meta(rebuilt) == video_meta(b)


def test_not_bmff_rejected():
    with pytest.raises(ValueError, match="ftyp"):
        video_meta(b"\x89PNG\r\n\x1a\n" + b"\x00" * 32)


def test_truncated_box_rejected():
    b = encode_mp4_meta(600, 1200, [(1, 128, 96)])
    with pytest.raises(ValueError):
        video_meta(b[:-20])


def test_overrunning_child_rejected():
    """A child box whose declared size overruns its parent must raise,
    not read sibling bytes as payload."""
    b = bytearray(encode_mp4_meta(600, 1200, [(1, 128, 96)]))
    # corrupt the mvhd size (first child of moov, at offset 16+8)
    struct.pack_into(">I", b, 16 + 8, 1 << 24)
    with pytest.raises(ValueError, match="overruns"):
        video_meta(bytes(b))


def test_missing_moov_rejected():
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    mdat = struct.pack(">I", 16) + b"mdat" + b"\x00" * 8
    with pytest.raises(ValueError, match="moov"):
        video_meta(ftyp + mdat)


def test_zero_timescale_rejected():
    with pytest.raises(ValueError, match="timescale"):
        video_meta(encode_mp4_meta(0, 1200, [(1, 128, 96)]))


def test_spark_decode_stage(spark):
    """The mapInPandas plumbing end-to-end on a tiny id frame."""
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    ids = spark.range(4).withColumnRenamed("id", "doc_id")
    rows = {
        r["media_id"]: r
        for r in mm.decode_video_meta(mm.synth_mp4_media(ids, "doc_id")).collect()
    }
    assert rows[0]["n_tracks"] == 1 and rows[1]["n_tracks"] == 2
    assert rows[2]["width"] == 480 and rows[2]["timescale"] == 1200
    assert rows[3]["duration_ms"] == 3000 * 1000 // 1500


def test_frame_sampling_grid_and_real_thumb_roundtrip(spark):
    """sample_video_frames plans the grid from REAL container
    metadata (frame count = ceil(duration_ms / 500) at 2 fps, ts on
    the 500 ms stride) and the fake-decoded thumbnails round-trip
    through the REAL image codec with the closed-form pixel rule."""
    from xero_api_etl_utilities_spark.functions.imagecodec import decode_image
    from xero_api_etl_utilities_spark.operators import multimodal as mm

    ids = spark.range(4).withColumnRenamed("id", "doc_id")
    frames = mm.sample_video_frames(
        mm.synth_mp4_media(ids, "doc_id"), decode_fn=mm.fake_frame_decode
    ).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    for d, rows in by_media.items():
        ts_scale = 600 + (d % 4) * 300
        dur_ms = (1200 + (d % 7) * 600) * 1000 // ts_scale
        assert len(rows) == (dur_ms + 499) // 500, d
        rows.sort(key=lambda r: r["frame_idx"])
        for i, r in enumerate(rows):
            assert r["frame_idx"] == i and r["ts_ms"] == i * 500
            assert r["width"] == 160 * (1 + d % 3)
            w, h, _c, px = decode_image(bytes(r["frame"]))
            assert (w, h) == (8, 6)
            assert list(px) == [
                (r["ts_ms"] * 7 + j) % 256 for j in range(8 * 6 * 3)
            ]


def test_frame_decode_default_is_documented_plugin(spark):
    """Without a decoder the honest NotImplementedError surfaces —
    the codec slot is a loud documented plug-in, never silent."""
    from pyspark.errors.exceptions.captured import PythonException

    from xero_api_etl_utilities_spark.operators import multimodal as mm

    ids = spark.range(1).withColumnRenamed("id", "doc_id")
    with pytest.raises(PythonException, match="external codec"):
        mm.sample_video_frames(mm.synth_mp4_media(ids, "doc_id")).collect()
