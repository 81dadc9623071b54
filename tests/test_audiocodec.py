"""Golden-byte tests for the pure-stdlib WAV codec (X4 audio decode
path): the decode fixtures are hand-constructed RIFF bytes from the
spec — NOT produced by the encoder under test — then decoded and
compared sample-for-sample, mirroring the image-codec strategy."""

from __future__ import annotations

import struct

import pytest

from xero_api_etl_utilities_spark.functions import audiocodec as ac


def _riff(*chunks: bytes) -> bytes:
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _chunk(tag: bytes, body: bytes) -> bytes:
    out = tag + struct.pack("<I", len(body)) + body
    if len(body) & 1:  # spec: chunks 2-byte aligned via pad byte
        out += b"\x00"
    return out


def _fmt(n_channels: int, rate: int, bits: int = 16, code: int = 1) -> bytes:
    block = (bits // 8) * n_channels
    return _chunk(
        b"fmt ",
        struct.pack("<HHIIHH", code, n_channels, rate, rate * block, block, bits),
    )


def test_decode_mono_hand_built():
    samples = [0, 1000, -1000, 32767, -32768]
    wav = _riff(_fmt(1, 8000), _chunk(b"data", struct.pack("<5h", *samples)))
    rate, n_ch, n_fr, chans = ac.decode_wav(wav)
    assert (rate, n_ch, n_fr) == (8000, 1, 5)
    assert chans == [samples]


def test_decode_stereo_interleaved():
    # frames: (L0,R0),(L1,R1),(L2,R2) interleaved on disk
    flat = [10, -10, 20, -20, 30, -30]
    wav = _riff(_fmt(2, 44100), _chunk(b"data", struct.pack("<6h", *flat)))
    rate, n_ch, n_fr, chans = ac.decode_wav(wav)
    assert (rate, n_ch, n_fr) == (44100, 2, 3)
    assert chans == [[10, 20, 30], [-10, -20, -30]]


def test_decode_skips_unknown_and_odd_chunks():
    """Real WAVs carry LIST/fact/cue chunks; odd-length ones are
    padded. The chunk walk must skip them all and still find data."""
    odd = _chunk(b"LIST", b"\x01\x02\x03")  # odd body -> pad byte
    fact = _chunk(b"fact", struct.pack("<I", 2))
    wav = _riff(odd, _fmt(1, 16000), fact, _chunk(b"data", struct.pack("<2h", 7, -7)))
    rate, n_ch, n_fr, chans = ac.decode_wav(wav)
    assert (rate, n_ch, n_fr) == (16000, 1, 2)
    assert chans == [[7, -7]]


def test_decode_rejects_non_pcm_and_garbage():
    with pytest.raises(ValueError, match="signature"):
        ac.decode_wav(b"not audio at all")
    float32 = _riff(_fmt(1, 8000, bits=32, code=3), _chunk(b"data", b"\x00" * 8))
    with pytest.raises(ValueError, match="only 16-bit PCM"):
        ac.decode_wav(float32)
    with pytest.raises(ValueError, match="missing fmt or data"):
        ac.decode_wav(_riff(_fmt(1, 8000)))


def test_encode_decode_roundtrip():
    chans = [[i * 3 - 500 for i in range(400)], [1 - i for i in range(400)]]
    rate, n_ch, n_fr, out = ac.decode_wav(ac.encode_wav(22050, chans))
    assert (rate, n_ch, n_fr) == (22050, 2, 400)
    assert out == chans


def test_audio_stats_integer_exact():
    chans = [[-3, 0, 3, 6]]
    st = ac.audio_stats(ac.encode_wav(4000, chans))
    assert st["sample_rate"] == 4000 and st["n_channels"] == 1
    assert st["n_frames"] == 4 and st["duration_ms"] == 1  # floor(4*1000/4000)
    [ch] = st["channels"]
    assert (ch["s_sum"], ch["s_sumsq"], ch["s_min"], ch["s_max"]) == (6, 54, -3, 6)
