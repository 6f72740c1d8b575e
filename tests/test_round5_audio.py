"""Audio path of the multimodal ops: the RIFF/WAVE PCM decoder is pure
numpy, so this environment exercises a REAL decode (unlike image/video,
whose codecs need external libraries). Fixtures are synthesized to the
public WAVE spec — stdlib `wave` for PCM16, hand-packed chunks for the
float32 / 8-bit / padding / multi-chunk variants."""

import io
import math
import struct
import wave

import numpy as np
import pytest

from iresearch_spark.ops.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    decode_wav,
)


def sine_wav_pcm16(freq=440.0, rate=8000, seconds=0.5, amp=0.5, channels=1):
    """PCM16 WAV via the stdlib writer (independent of our parser)."""
    n = int(rate * seconds)
    t = np.arange(n) / rate
    x = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    if channels == 2:
        x = np.repeat(x, 2)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def wav_bytes(fmt, channels, rate, bits, data, extra_chunks=()):
    """Hand-packed RIFF/WAVE with arbitrary chunk list."""
    fmt_body = struct.pack(
        "<HHIIHH", fmt, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = [(b"fmt ", fmt_body)]
    chunks.extend(extra_chunks)
    chunks.append((b"data", data))
    body = b"WAVE"
    for cid, cbody in chunks:
        body += cid + struct.pack("<I", len(cbody)) + cbody
        if len(cbody) & 1:
            body += b"\x00"  # word alignment padding
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_pcm16_sine_features():
    payload = sine_wav_pcm16(freq=440.0, rate=8000, seconds=0.5, amp=0.5)
    x, rate, ch = decode_wav(payload)
    assert (rate, ch) == (8000, 1)
    assert x.size == 4000
    # closed forms for a sine: rms = amp/sqrt(2), zcr = 2f/rate
    assert math.isclose(
        float(np.sqrt(np.mean(x.astype(np.float64) ** 2))),
        0.5 / math.sqrt(2),
        rel_tol=1e-3,
    )


def test_decode_stereo_averages_to_mono():
    payload = sine_wav_pcm16(channels=2)
    x, rate, ch = decode_wav(payload)
    assert ch == 2 and x.size == 4000  # frames, not interleaved samples


def test_decode_float32_and_8bit():
    x32 = np.asarray([0.0, 0.25, -0.5, 1.0], dtype="<f4")
    p32 = wav_bytes(3, 1, 16000, 32, x32.tobytes())
    got, rate, _ = decode_wav(p32)
    np.testing.assert_allclose(got, x32, atol=1e-7)
    assert rate == 16000
    # 8-bit PCM is unsigned with midpoint 128
    p8 = wav_bytes(1, 1, 8000, 8, bytes([128, 255, 0, 192]))
    got8, _, _ = decode_wav(p8)
    np.testing.assert_allclose(
        got8, [0.0, 127 / 128, -1.0, 0.5], atol=1e-7
    )


def test_decode_skips_interleaved_chunks_and_padding():
    # fact + odd-length LIST chunk (forces word-alignment padding)
    # before data — the walk must land on data regardless
    x = np.asarray([1000, -1000, 500], dtype="<i2")
    payload = wav_bytes(
        1, 1, 8000, 16, x.tobytes(),
        extra_chunks=[(b"fact", struct.pack("<I", 3)), (b"LIST", b"INFO\x01")],
    )
    got, rate, _ = decode_wav(payload)
    np.testing.assert_allclose(got, x / 32768.0, atol=1e-7)


def test_decode_rejects_non_wav_and_compressed():
    with pytest.raises(ValueError):
        decode_wav(b"\xff\xfb\x90\x00" + b"x" * 100)  # mp3 frame header
    with pytest.raises(ValueError):
        decode_wav(wav_bytes(85, 1, 8000, 16, b"\x00\x00"))  # mp3-in-wav


def test_audio_features_dataframe(spark):
    wav = sine_wav_pcm16(freq=440.0, rate=8000, seconds=0.5, amp=0.5)
    rows = [
        (1, "audio", wav, "audio/wav", None, None, None),
        (2, "audio", b"\xff\xfb" + bytes(100), "audio/mpeg", None, None, None),
        (3, "audio", None, None, None, None, None),
        (4, "image", wav, "image/x", None, None, None),  # filtered out
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in audio_features(media).collect()}
    assert set(got) == {1, 2, 3}
    r1 = got[1]
    assert r1["ok"] and r1["sample_rate"] == 8000 and r1["channels"] == 1
    assert r1["duration_ms"] == 500
    assert math.isclose(r1["rms"], 0.5 / math.sqrt(2), rel_tol=1e-3)
    # sine zcr = 2 * f / rate crossings per sample
    assert math.isclose(
        r1["zero_crossing_rate"], 2 * 440.0 / 8000, rel_tol=0.02
    )
    # spectral centroid of a pure tone sits at the tone
    assert math.isclose(r1["spectral_centroid_hz"], 440.0, rel_tol=0.05)
    # compressed codec: real mode -> honest ok=False, never a fake
    assert not got[2]["ok"] and got[2]["rms"] is None
    assert not got[3]["ok"]


def test_audio_features_fake_fallback(spark):
    rows = [
        (1, "audio", b"\xff\xfb" + bytes(100), "audio/mpeg", None, None, None),
        (2, "audio", sine_wav_pcm16(), "audio/wav", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in audio_features(media, use_real_decoder=False).collect()
    }
    # non-WAV gets deterministic fake features (full batch shape
    # exercised), WAV still decodes for real
    assert got[1]["ok"] and got[1]["sample_rate"] == 0
    assert got[1]["duration_ms"] == 102
    assert got[2]["ok"] and got[2]["sample_rate"] == 8000


def test_audio_features_batch_split_invariance(spark):
    payloads = [
        (i, "audio", sine_wav_pcm16(freq=100.0 * (i + 1), seconds=0.1),
         "audio/wav", None, None, None)
        for i in range(6)
    ]
    media1 = spark.createDataFrame(payloads, MEDIA_SCHEMA).coalesce(1)
    media4 = spark.createDataFrame(payloads, MEDIA_SCHEMA).repartition(4)
    a = sorted(
        (r["media_id"], r["rms"], r["spectral_centroid_hz"])
        for r in audio_features(media1).collect()
    )
    b = sorted(
        (r["media_id"], r["rms"], r["spectral_centroid_hz"])
        for r in audio_features(media4).collect()
    )
    assert a == b
