"""Pure-stdlib WAV (PCM) decoding for the multimodal operators.

A spec-level decoder over the standard library only, like
imagecodec.py for images and the S2 xlsx decoder for workbooks — ``struct``
byte math over the RIFF container, no ``wave`` module on the read
path (the point is decoding the bytes, not trusting a parser).

- **Container**: RIFF chunk walk (``RIFF`` size ``WAVE`` then tagged
  sub-chunks). Chunks are 2-byte-aligned per the spec: an odd-sized
  chunk is followed by a pad byte. Unknown chunks (LIST, fact, cue)
  are skipped, which is what real-world WAV files require.
- **Format**: ``fmt `` must declare PCM (audio format 1) at 16 bits
  per sample — the overwhelmingly common interchange format; anything
  else (float32, ADPCM, extensible) raises loudly rather than
  decoding wrong.
- **Frames**: the ``data`` chunk is little-endian int16, channels
  interleaved per frame.

Output normalizes to ``(sample_rate, n_channels, n_frames, samples)``
with ``samples`` channel-major (``samples[c][i]`` = frame i of
channel c) so per-channel features fall out of plain slices.

The encoder writes the same minimal RIFF/fmt/data layout
deterministically (no compressor, no metadata chunks), so synthesized
fixtures round-trip bit-exactly across runs and executors. Everything
here runs INSIDE Arrow batches on executors (mapInPandas) — pure
functions of bytes, no filesystem, no network.

Video frames remain a plug-in slot
(``operators/multimodal.sample_video_frames(decode_fn=)``): they need
an external codec.
"""

from __future__ import annotations

import struct

RIFF_MAGIC = b"RIFF"
WAVE_MAGIC = b"WAVE"


def decode_wav(data: bytes) -> tuple[int, int, int, list[list[int]]]:
    """Decode 16-bit PCM WAV bytes to
    (sample_rate, n_channels, n_frames, channel_major_samples)."""
    if len(data) < 12 or data[:4] != RIFF_MAGIC or data[8:12] != WAVE_MAGIC:
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    pos = 12
    sample_rate = n_channels = None
    raw: bytes | None = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are 2-byte aligned
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk truncated")
            fmt_code, n_channels, sample_rate, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt_code != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV encoding (format={fmt_code}, bits={bits});"
                    " only 16-bit PCM decodes here"
                )
        elif tag == b"data":
            raw = body
    if sample_rate is None or raw is None:
        raise ValueError("WAV missing fmt or data chunk")
    n_frames = len(raw) // (2 * n_channels)
    flat = struct.unpack(f"<{n_frames * n_channels}h", raw[: 2 * n_frames * n_channels])
    samples = [list(flat[c :: n_channels]) for c in range(n_channels)]
    return sample_rate, n_channels, n_frames, samples


def encode_wav(sample_rate: int, channels: list[list[int]]) -> bytes:
    """Encode channel-major int16 samples as a minimal 16-bit PCM WAV
    (RIFF + fmt + data, nothing else — deterministic bytes)."""
    n_channels = len(channels)
    n_frames = len(channels[0]) if channels else 0
    if any(len(ch) != n_frames for ch in channels):
        raise ValueError("all channels must have equal frame counts")
    flat = [channels[c][i] for i in range(n_frames) for c in range(n_channels)]
    raw = struct.pack(f"<{len(flat)}h", *flat)
    block_align = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return RIFF_MAGIC + struct.pack("<I", len(body)) + body


def audio_stats(data: bytes) -> dict:
    """Integer-exact per-channel statistics of a PCM WAV — the
    oracle-checkable decode product (every field is integer math over
    the decoded samples, so a closed-form SQL twin can predict it
    without parsing bytes): duration_ms floors frames*1000/rate;
    per-channel sum / sum-of-squares / min / max."""
    sample_rate, n_channels, n_frames, samples = decode_wav(data)
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // sample_rate,
        "channels": [
            {
                "channel": c,
                "s_sum": sum(ch),
                "s_sumsq": sum(v * v for v in ch),
                "s_min": min(ch) if ch else None,
                "s_max": max(ch) if ch else None,
            }
            for c, ch in enumerate(samples)
        ],
    }
