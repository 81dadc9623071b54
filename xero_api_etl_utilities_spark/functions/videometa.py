"""Pure-stdlib ISO-BMFF (MP4/MOV) container METADATA codec.

Frame decode needs an external codec (ffmpeg is not in this container,
so it stays a plug-in: operators/multimodal.sample_video_frames'
``decode_fn``), but the container METADATA a pipeline plans with —
duration, timescale, track count, display dimensions — is plain
big-endian box structure that a few dozen lines of ``struct`` parse,
like imagecodec.py (PNG) and audiocodec.py (WAV) for their formats.

Format (ISO/IEC 14496-12): a file is a sequence of boxes
``[u32 size][4cc type][payload]``; size==1 means a u64 "largesize"
follows the type; size==0 means "to end of enclosing scope". ``moov``
is a pure container; ``mvhd`` (movie header) carries
timescale/duration; each ``trak`` container holds a ``tkhd`` (track
header) with track id and 16.16 fixed-point display width/height.
Both version 0 (32-bit times) and version 1 (64-bit times) of
mvhd/tkhd are parsed — real encoders emit either.

The encoder builds minimal valid files (ftyp + moov[mvhd + trak*] +
mdat) for fixtures and the closed-form driver oracle; the parser is
strict (truncated boxes, overrunning child boxes, missing moov/mvhd
all raise ValueError) so malformed bytes fail loudly, not with
garbage metadata.
"""

from __future__ import annotations

import struct


def _boxes(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for each box in
    [start, end); validates sizes against the enclosing scope."""
    o = start
    while o < end:
        if o + 8 > end:
            raise ValueError(f"truncated box header at offset {o}")
        (size,) = struct.unpack_from(">I", data, o)
        fourcc = data[o + 4 : o + 8]
        if size == 1:
            if o + 16 > end:
                raise ValueError(f"truncated largesize header at offset {o}")
            (size,) = struct.unpack_from(">Q", data, o + 8)
            payload = o + 16
        elif size == 0:  # box extends to end of scope
            size = end - o
            payload = o + 8
        else:
            payload = o + 8
        if size < payload - o or o + size > end:
            raise ValueError(
                f"box {fourcc!r} at {o} overruns enclosing scope "
                f"(size {size}, scope end {end})"
            )
        yield fourcc, payload, o + size
        o += size


def _find(data: bytes, start: int, end: int, fourcc: bytes):
    for fc, ps, pe in _boxes(data, start, end):
        if fc == fourcc:
            return ps, pe
    return None


def video_meta(content: bytes) -> dict:
    """Parse container metadata from MP4/MOV bytes.

    Returns {brand, timescale, duration_units, duration_ms, n_tracks,
    width, height} — width/height from the FIRST track's tkhd (16.16
    fixed point, truncated to integer pixels). Raises ValueError on
    anything that is not a well-formed ISO-BMFF file with a moov/mvhd.
    """
    if len(content) < 8 or content[4:8] != b"ftyp":
        raise ValueError("not ISO-BMFF: no leading ftyp box")
    list(_boxes(content, 0, len(content)))  # validate whole-file box walk
    brand = content[8:12].decode("latin-1")
    moov = _find(content, 0, len(content), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    ms, me = moov
    mvhd = _find(content, ms, me, b"mvhd")
    if mvhd is None:
        raise ValueError("no mvhd box in moov")
    ps, pe = mvhd
    version = content[ps]
    if version == 0:
        if pe - ps < 20:
            raise ValueError("truncated mvhd v0")
        timescale, duration = struct.unpack_from(">II", content, ps + 12)
    elif version == 1:
        if pe - ps < 32:
            raise ValueError("truncated mvhd v1")
        (timescale,) = struct.unpack_from(">I", content, ps + 20)
        (duration,) = struct.unpack_from(">Q", content, ps + 24)
    else:
        raise ValueError(f"unsupported mvhd version {version}")
    if timescale == 0:
        raise ValueError("mvhd timescale 0")
    width = height = None
    n_tracks = 0
    for fc, ts_, te_ in _boxes(content, ms, me):
        if fc != b"trak":
            continue
        n_tracks += 1
        tk = _find(content, ts_, te_, b"tkhd")
        if tk is None or width is not None:
            continue
        tps, tpe = tk
        tv = content[tps]
        # width/height sit after version/flags + times + track_id +
        # reserved + duration + reserved(8) + layer/altgroup/volume/
        # reserved(8) + matrix(36): offset 76 (v0) / 88 (v1)
        off = tps + (76 if tv == 0 else 88)
        if off + 8 > tpe:
            raise ValueError("truncated tkhd")
        w_fix, h_fix = struct.unpack_from(">II", content, off)
        width, height = w_fix >> 16, h_fix >> 16
    return {
        "brand": brand,
        "timescale": timescale,
        "duration_units": duration,
        "duration_ms": duration * 1000 // timescale,
        "n_tracks": n_tracks,
        "width": width,
        "height": height,
    }


def _full_box(fourcc: bytes, version: int, payload: bytes) -> bytes:
    body = bytes([version, 0, 0, 0]) + payload
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _box(fourcc: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def encode_mp4_meta(
    timescale: int,
    duration: int,
    tracks: list[tuple[int, int, int]],
    version: int = 0,
) -> bytes:
    """Minimal valid ISO-BMFF bytes: ftyp (brand ``isom``) +
    moov(mvhd + trak(tkhd)*) + an 8-byte mdat. ``tracks`` is [(track_id, width_px, height_px)].
    ``version`` selects mvhd/tkhd v0 (32-bit times) or v1 (64-bit)."""
    if version not in (0, 1):
        raise ValueError(f"mvhd version must be 0 or 1, got {version}")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0))
    t = ">II" if version == 0 else ">QQ"
    mvhd = _full_box(
        b"mvhd",
        version,
        struct.pack(t, 0, 0)  # creation/modification time
        + struct.pack(">I", timescale)
        + struct.pack(">I" if version == 0 else ">Q", duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + _identity_matrix()
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", len(tracks) + 1),  # next_track_id
    )
    traks = b""
    for track_id, w, h in tracks:
        tkhd = _full_box(
            b"tkhd",
            version,
            struct.pack(t, 0, 0)
            + struct.pack(">I", track_id)
            + struct.pack(">I", 0)  # reserved
            + struct.pack(">I" if version == 0 else ">Q", duration)
            + b"\x00" * 8  # reserved
            + struct.pack(">hhh", 0, 0, 0)  # layer, alt group, volume
            + b"\x00" * 2  # reserved
            + _identity_matrix()
            + struct.pack(">II", w << 16, h << 16),
        )
        traks += _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + traks)
    mdat = _box(b"mdat", b"\x00" * 8)
    return ftyp + moov + mdat


def _identity_matrix() -> bytes:
    return struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
