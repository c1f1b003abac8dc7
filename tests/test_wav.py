"""Real WAV (RIFF/PCM) audio codec + the audio media operators.

functions/wav.py is the first REAL audio codec (stdlib struct + numpy,
no libav) next to png/bmp; operators/multimodal.py routes WAV blobs
as media_kind 'audio' and adds audio_features / audio_resample /
audio_clips (the audio analogs of decode_features / resize /
sample_frames). Reference analog: media attachments as opaque blobs
(docker/main.py:209-227)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from gpt4ocontentextraction_spark.functions.wav import (
    decode_wav,
    encode_wav,
    is_wav,
    resample_nearest,
    synth_wav,
)
from gpt4ocontentextraction_spark.operators import multimodal as mm


# ---------------------------------------------------------------- codec


def test_16bit_roundtrip_bit_exact():
    rng = np.random.RandomState(7)
    q = rng.randint(-32768, 32768, size=(300, 2)).astype("<i2")
    samples = q.astype(np.float32) / 32768.0
    blob = encode_wav(samples, 8000)
    assert is_wav(blob)
    dec = decode_wav(blob)
    assert dec["rate"] == 8000 and dec["channels"] == 2
    # i/32768 values re-quantize to exactly i: bit-exact round trip
    assert np.array_equal(
        np.clip(np.floor(dec["samples"].astype(np.float64) * 32768.0 + 0.5),
                -32768, 32767).astype("<i2"),
        q,
    )
    assert np.array_equal(dec["samples"], samples)


def _pcm_wav(body: bytes, bits: int, channels: int = 1, rate: int = 8000,
             tag: int = 1, fmt_extra: bytes = b"") -> bytes:
    block = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", tag, channels, rate, rate * block, block, bits
    ) + fmt_extra
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def test_8bit_unsigned_pcm():
    body = bytes([0, 128, 255])
    dec = decode_wav(_pcm_wav(body, 8))
    got = dec["samples"][:, 0]
    assert got[0] == pytest.approx(-1.0)
    assert got[1] == pytest.approx(0.0)
    assert got[2] == pytest.approx(127 / 128)


def test_24bit_pcm_signed():
    vals = [0, 1 << 22, -(1 << 22), (1 << 23) - 1, -(1 << 23)]
    body = b"".join(
        int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    got = decode_wav(_pcm_wav(body, 24))["samples"][:, 0]
    want = np.array(vals, dtype=np.float64) / (1 << 23)
    assert np.allclose(got, want, atol=1e-7)


def test_32bit_pcm_and_float():
    ints = np.array([0, 1 << 30, -(1 << 31)], dtype="<i4")
    got = decode_wav(_pcm_wav(ints.tobytes(), 32))["samples"][:, 0]
    assert np.allclose(got, ints.astype(np.float64) / (1 << 31))
    f32 = np.array([0.5, -0.25, 1.0], dtype="<f4")
    got = decode_wav(_pcm_wav(f32.tobytes(), 32, tag=3))["samples"][:, 0]
    assert np.array_equal(got, f32)
    f64 = np.array([0.125, -1.0], dtype="<f8")
    got = decode_wav(_pcm_wav(f64.tobytes(), 64, tag=3))["samples"][:, 0]
    assert np.allclose(got, f64)


def test_chunk_walk_skips_list_and_pads_odd_chunks():
    """LIST/INFO chunks before data are skipped; odd-sized chunks are
    2-byte aligned per the RIFF spec."""
    q = np.array([1000, -1000], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    odd = b"junk!"  # 5 bytes -> needs a pad byte
    blob = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"LIST" + struct.pack("<I", len(odd)) + odd + b"\x00"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + q.tobytes()
    )
    dec = decode_wav(blob)
    assert np.allclose(dec["samples"][:, 0], q / 32768.0)


def test_extensible_tag_resolves_subformat():
    """WAVE_FORMAT_EXTENSIBLE: real tag read from the GUID's first word."""
    q = np.array([123, -456], dtype="<i2")
    extra = struct.pack("<HHI", 22, 16, 0) + struct.pack("<H", 1) + b"\x00" * 14
    blob = _pcm_wav(q.tobytes(), 16, tag=0xFFFE, fmt_extra=extra)
    dec = decode_wav(blob)
    assert np.allclose(dec["samples"][:, 0], q / 32768.0)


def test_compressed_tags_honestly_raise():
    with pytest.raises(NotImplementedError, match="format tag 2"):
        decode_wav(_pcm_wav(b"\x00\x00", 4, tag=2))  # MS ADPCM
    with pytest.raises(NotImplementedError, match="bit depth 12"):
        decode_wav(_pcm_wav(b"\x00\x00", 12))
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxAVI " + b"\x00" * 16)


def test_g711_mulaw_alaw_decode():
    """ITU G.711 companding: anchor values + strict monotonicity over
    each sign half, and full int16-ish dynamic range."""
    from gpt4ocontentextraction_spark.functions.wav import (
        _alaw_to_linear,
        _mulaw_to_linear,
    )

    allb = np.arange(256, dtype=np.uint8)
    mu = _mulaw_to_linear(allb)
    assert mu[0xFF] == 0          # mu-law 0xFF encodes linear 0
    assert mu[0x00] == -32124     # negative max
    assert mu[0x80] == 32124      # positive max
    assert mu.max() == 32124 and mu.min() == -32124
    # bytes 0x80..0xFF are the positive half, descending magnitude
    pos = mu[0x80:]
    assert np.all(np.diff(pos) < 0) and np.all(pos >= 0)
    al = _alaw_to_linear(allb)
    assert al.max() == 32256 and al.min() == -32256
    assert al[0x55] == -8        # A-law 0x55 encodes the smallest step
    assert al[0xD5] == 8
    # through the WAV container: tag 7 / tag 6, 8-bit
    dec = decode_wav(_pcm_wav(bytes([0xFF, 0x00, 0x80]), 8, tag=7))
    got = np.round(dec["samples"][:, 0] * 32768.0).astype(int)
    assert got[0] == 0 and got[1] == -32124 and got[2] == 32124
    dec = decode_wav(_pcm_wav(bytes([0x55, 0xD5]), 8, tag=6))
    got = np.round(dec["samples"][:, 0] * 32768.0).astype(int)
    assert list(got) == [-8, 8]


def test_synth_deterministic_and_resample():
    a, b = synth_wav(5, rate=4000, seconds=0.1), synth_wav(5, rate=4000,
                                                           seconds=0.1)
    assert a == b and is_wav(a)
    s = decode_wav(a)["samples"]
    assert s.shape == (400, 1)
    down = resample_nearest(s, 4000, 1000)
    assert down.shape == (100, 1)
    # nearest = exact picks of source frames
    assert np.array_equal(down[:, 0], s[::4, 0])
    up = resample_nearest(s, 4000, 8000)
    assert up.shape == (800, 1)
    assert np.array_equal(up[::2], s)


# ------------------------------------------------- Spark audio operators


@pytest.fixture(scope="module")
def audio_media(spark):
    rows = [
        (f"aud-{i}", "audio", "audio/wav", ch, 8000, 0,
         synth_wav(i, rate=8000, seconds=0.25, channels=ch))
        for i, ch in [(1, 1), (2, 2), (3, 1)]
    ] + [
        ("img-1", "image", "image/fake", 16, 16, 1,
         mm.encode_fake(9, 16, 16)),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA_DDL).cache()
    yield df
    df.unpersist(blocking=False)


def test_decode_real_routes_wav_as_audio():
    blob = synth_wav(4, rate=8000, seconds=0.1, channels=2)
    dec = mm._decode_real(blob)
    assert dec["kind"] == "audio" and dec["mime"] == "audio/wav"
    assert (dec["width"], dec["height"]) == (2, 8000)  # channels, rate
    assert dec["n_frames"] == 800
    assert dec["samples"].shape == (800, 2)
    # byte-stat view = the 16-bit quantization, little-endian uint8
    assert dec["pixels"].dtype == np.uint8
    assert len(dec["pixels"]) == 800 * 2 * 2


def test_audio_features(spark, audio_media):
    feats = {r["media_ref"]: r for r in mm.audio_features(audio_media).collect()}
    assert set(feats) == {"aud-1", "aud-2", "aud-3"}  # image row excluded
    for i, ch in [(1, 1), (2, 2), (3, 1)]:
        r = feats[f"aud-{i}"]
        s = decode_wav(synth_wav(i, rate=8000, seconds=0.25,
                                 channels=ch))["samples"].astype(np.float64)
        assert (r["rate"], r["channels"]) == (8000, ch)
        assert r["n_samples"] == s.shape[0]
        assert r["duration_s"] == pytest.approx(0.25)
        assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(s * s))))
        assert r["peak"] == pytest.approx(float(np.abs(s).max()))
        assert 0.0 < r["zero_cross_rate"] < 1.0


def test_audio_resample_and_reencode(audio_media):
    out = {r["media_ref"]: r for r in
           mm.audio_resample(audio_media, 4000).collect()}
    assert set(out) == {"aud-1", "aud-2", "aud-3"}
    for ref, r in out.items():
        dec = decode_wav(bytes(r["data"]))
        assert r["rate"] == 4000 and dec["rate"] == 4000
        assert dec["samples"].shape[0] == 1000  # 0.25 s at 4 kHz


def test_audio_clips_reconstruct_signal(audio_media):
    clips = mm.audio_clips(audio_media, clip_s=0.1).collect()
    per_ref: dict[str, list] = {}
    for c in clips:
        per_ref.setdefault(c["media_ref"], []).append(
            (c["clip_no"], bytes(c["clip"]))
        )
    # 0.25 s at 0.1 s clips -> 0.1 + 0.1 + 0.05 tail
    for i, ch in [(1, 1), (2, 2), (3, 1)]:
        got = sorted(per_ref[f"aud-{i}"])
        assert [n for n, _ in got] == [0, 1, 2]
        parts = [decode_wav(b)["samples"] for _, b in got]
        assert [p.shape[0] for p in parts] == [800, 800, 400]
        whole = decode_wav(synth_wav(i, rate=8000, seconds=0.25,
                                     channels=ch))["samples"]
        assert np.array_equal(np.vstack(parts), whole)


def test_resize_excludes_audio_rows(audio_media):
    out = mm.resize(audio_media, 8, 8).collect()
    assert {r["media_ref"] for r in out} == {"img-1"}


def test_ingest_media_dir_routes_wav(spark, tmp_path):
    (tmp_path / "clip.wav").write_bytes(synth_wav(8, rate=8000, seconds=0.1))
    got = mm.ingest_media_dir(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert r["media_ref"] == "clip" and r["media_kind"] == "audio"
    assert (r["width"], r["height"]) == (1, 8000)  # channels, rate
    assert r["n_frames"] == 800
