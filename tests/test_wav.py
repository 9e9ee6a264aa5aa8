"""Pure-stdlib WAV codec (functions/wav.py) + the audio arm of the
multimodal feature extractor (VERDICT r3 item 2)."""

from __future__ import annotations

import struct
import wave

import numpy as np
import pytest

from rdf_knowledge_extractor_spark.functions.wav import (
    WavError,
    decode_wav,
    encode_wav,
    is_wav,
    wav_stats,
)


def test_roundtrip_mono_16bit():
    t = np.linspace(0, 1, 1600, endpoint=False)
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    data = encode_wav(sig, sample_rate=1600)
    assert is_wav(data)
    samples, rate = decode_wav(data)
    assert rate == 1600
    assert samples.shape == (1600, 1)
    assert np.abs(samples[:, 0] - sig).max() < 1 / 32767 + 1e-9


def test_roundtrip_stereo():
    sig = np.stack([np.full(100, 0.25), np.full(100, -0.75)], axis=1)
    samples, rate = decode_wav(encode_wav(sig, sample_rate=8000))
    assert samples.shape == (100, 2)
    assert samples[:, 0].mean() == pytest.approx(0.25, abs=1e-4)
    assert samples[:, 1].mean() == pytest.approx(-0.75, abs=1e-4)


def test_against_stdlib_wave_module():
    """Differential oracle: the stdlib `wave` writer produces the bytes,
    our decoder reads them (independent implementations)."""
    import io

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(22050)
        frames = np.tile(np.array([1000, -2000], dtype="<i2"), 50)
        w.writeframes(frames.tobytes())
    data = buf.getvalue()
    samples, rate = decode_wav(data)
    assert rate == 22050
    assert samples.shape == (50, 2)
    assert samples[0, 0] == pytest.approx(1000 / 32768)
    assert samples[0, 1] == pytest.approx(-2000 / 32768)
    # and the reverse: our encoder, stdlib reader
    with wave.open(io.BytesIO(encode_wav(np.full(30, 0.5), 16000)), "rb") as r:
        assert r.getframerate() == 16000
        assert r.getnchannels() == 1
        assert r.getnframes() == 30


def test_8_24_32_bit_and_float_formats():
    # hand-build headers for depths the encoder doesn't emit
    def wav_bytes(fmt_code, bits, payload, channels=1, rate=8000):
        fmt = struct.pack(
            "<HHIIHH", fmt_code, channels, rate,
            rate * channels * bits // 8, channels * bits // 8, bits,
        )
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    s8, _ = decode_wav(wav_bytes(1, 8, bytes([128, 255, 0])))
    assert s8[:, 0] == pytest.approx([0.0, 127 / 128, -1.0])

    raw24 = b"\x00\x00\x40" + b"\x00\x00\xc0"  # +2^22, -2^22
    s24, _ = decode_wav(wav_bytes(1, 24, raw24))
    assert s24[:, 0] == pytest.approx([0.5, -0.5])

    raw32 = struct.pack("<ii", 1 << 30, -(1 << 30))
    s32, _ = decode_wav(wav_bytes(1, 32, raw32))
    assert s32[:, 0] == pytest.approx([0.5, -0.5])

    rawf = struct.pack("<ff", 0.125, -1.0)
    sf, _ = decode_wav(wav_bytes(3, 32, rawf))
    assert sf[:, 0] == pytest.approx([0.125, -1.0])


def test_skips_extension_chunks():
    base = encode_wav(np.full(10, 0.1), 8000)
    # splice a LIST chunk (odd size → padded) between fmt and data
    fmt_end = base.index(b"data")
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = base[:fmt_end] + extra + base[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    samples, rate = decode_wav(patched)
    assert samples.shape == (10, 1)


def test_stats_contract():
    rate, c, dur, rms = wav_stats(encode_wav(np.full(1600, 0.5), 16000))
    assert (rate, c) == (16000, 1)
    assert dur == pytest.approx(0.1)
    assert rms[0] == pytest.approx(0.5, abs=1e-4)


def test_error_paths():
    assert not is_wav(b"OggS")
    with pytest.raises(WavError, match="RIFF"):
        decode_wav(b"junk")
    good = encode_wav(np.zeros(4), 8000)
    with pytest.raises(WavError, match="truncated"):
        decode_wav(good[:30])
    with pytest.raises(WavError, match="dims"):
        encode_wav(np.zeros((2, 2, 2)))
    # unsupported compressed format code
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 16)
    mp3ish = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(WavError, match="unsupported audio format"):
        decode_wav(mp3ish)


def test_spark_real_decode_path(spark):
    """extract_media_features(deterministic_fake=False) over WAV blobs:
    real rate/channels/duration/RMS features, 'wav-stdlib-v1' — the
    audio twin of tests/test_png.py::test_spark_real_decode_path."""
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )

    rows = [
        (0, bytearray(encode_wav(np.full(800, 0.5), 16000)), "audio", {}),
        (1, bytearray(encode_wav(np.full((50, 2), -0.25), 8000)), "audio", {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r.media_id: r
        for r in extract_media_features(media, deterministic_fake=False).collect()
    }
    assert got[0].decoder == "wav-stdlib-v1"
    assert got[0].feature[0] == pytest.approx(16000 / 1e5)
    assert got[0].feature[1] == pytest.approx(1 / 4.0)
    assert got[0].feature[2] == pytest.approx(800 / 16000)
    assert got[0].feature[3] == pytest.approx(0.5, abs=1e-4)
    assert got[1].feature[1] == pytest.approx(2 / 4.0)
    assert got[1].feature[3] == pytest.approx(0.25, abs=1e-4)  # rms ch0
    assert got[1].feature[4] == pytest.approx(0.25, abs=1e-4)  # rms ch1


def test_mixed_media_types_dispatch(spark):
    """One batch holding a PNG and a WAV: per-row decoder dispatch."""
    from rdf_knowledge_extractor_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_media_features,
    )
    from fixture_encoders import encode_png

    rows = [
        (0, bytearray(encode_png(np.full((2, 2, 3), 10, dtype=np.uint8))), "image", {}),
        (1, bytearray(encode_wav(np.full(80, 0.5), 8000)), "audio", {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(1)
    got = {
        r.media_id: r.decoder
        for r in extract_media_features(media, deterministic_fake=False).collect()
    }
    assert got == {0: "png-stdlib-v1", 1: "wav-stdlib-v1"}
