"""Audio codec unit tests — the BASELINE.json per-row invariant
(decoded-PCM allclose, SNR ≥ 30 dB) plus defect containment."""

from __future__ import annotations

import numpy as np
import pytest

from wallaby2caom2_spark.functions import audio


def _sig(n=8000, f0=220.0, sr=16000):
    t = np.arange(n, dtype=np.float32) / sr
    return (0.4 * np.sin(2 * np.pi * f0 * t)).astype(np.float32)


def _snr_db(ref: np.ndarray, out: np.ndarray) -> float:
    err = ref - out
    return 10.0 * np.log10(float(np.sum(ref**2)) / max(float(np.sum(err**2)), 1e-30))


@pytest.mark.parametrize("codec", ["pcm_s16le", "wav", "flac"])
def test_roundtrip_snr_at_least_30db(codec):
    sig = _sig()
    payload = {
        "pcm_s16le": audio.encode_pcm_s16le(sig),
        "wav": lambda: audio.encode_wav(sig, 16000),
        "flac": lambda: audio.encode_flac_stub(sig, 16000),
    }[codec]
    payload = payload() if callable(payload) else payload
    out, sr = audio.decode_clip(payload, codec)
    assert out is not None and len(out) == len(sig)
    if codec != "pcm_s16le":
        assert sr == 16000
    snr = _snr_db(sig, out)
    assert snr >= 30.0, f"SNR {snr:.1f} dB < 30"
    assert np.allclose(sig, out, atol=2.0 / 32767)


def test_decode_features_measures_duration_and_rms():
    sig = _sig(n=16000, sr=16000)  # exactly 1000 ms
    ok, sr, dur, rms, clip, dropout = audio.decode_features(
        audio.encode_wav(sig, 16000), "wav", 16000
    )
    assert ok and sr == 16000 and dur == 1000
    assert abs(rms - 0.4 / np.sqrt(2)) < 0.01
    assert clip == 0.0
    # a pure 0.4-amplitude tone crosses zero every half-period; no quiet
    # run can span longer than a couple samples
    assert dropout < 1.0


def test_decode_features_detects_dropout_run():
    sig = _sig(n=16000, sr=16000)
    sig[4000:5600] = 0.0  # 100 ms hard-zero interior span
    *_, dropout = audio.decode_features(
        audio.encode_wav(sig, 16000), "wav", 16000
    )
    assert abs(dropout - 100.0) < 2.0
    # all-quiet payload reports its full duration as one run (the cascade's
    # audio_silence rule outranks audio_dropout for these)
    *_, full = audio.decode_features(
        audio.encode_wav(np.zeros(8000, dtype=np.float32), 16000),
        "wav",
        16000,
    )
    assert abs(full - 500.0) < 1.0


@pytest.mark.parametrize(
    "payload,codec",
    [
        (b"", "wav"),
        (None, "wav"),
        (b"RIFFxxxx", "wav"),
        (b"\x00" * 31, "pcm_s16le"),      # odd byte count
        (b"fLaC" + b"\x00" * 4, "flac"),  # truncated header
        (b"anything", "bad"),             # unknown codec
    ],
)
def test_bad_payloads_contained(payload, codec):
    ok, *_ = audio.decode_features(payload, codec, 16000)
    assert ok is False


def test_truncated_wav_rejected():
    payload = audio.encode_wav(_sig(), 16000)
    ok, *_ = audio.decode_features(payload[: len(payload) // 2], "wav", 16000)
    assert ok is False


def test_wav_odd_length_chunk_pad_byte():
    """Spec-conformant WAVs pad odd-length chunks to word alignment; the
    parser must skip the pad byte or misread every later chunk header."""
    import struct

    from wallaby2caom2_spark.functions import audio

    x = np.zeros(1600, dtype=np.float32)
    x[100:200] = 0.5
    wav = audio.encode_wav(x, 16000)
    # splice an odd-length LIST chunk (3 bytes + 1 pad) before 'data'
    data_pos = wav.index(b"data")
    odd = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"
    patched = wav[:12] + wav[12:data_pos] + odd + wav[data_pos:]
    # fix the RIFF size field
    patched = (
        patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    )
    got, sr = audio.decode_clip(patched, "wav")
    assert sr == 16000 and got is not None
    np.testing.assert_allclose(got, x, atol=1.0 / 32768)


def test_fingerprint_dc_step_clip_is_gated():
    """Piecewise-constant clips pass the whole-clip std gate but every
    demeaned segment is silent — they must come back fp_ok=False, not the
    degenerate all-zero fingerprint (LSH hot-key bucket)."""
    from wallaby2caom2_spark.functions import audio

    n = 4000
    x = np.zeros(n, dtype=np.float32)
    x[n // 4 : n // 2] = 0.5
    x[3 * n // 4 :] = 0.5
    # each of the 4 fingerprint segments is constant; clip-level std is big
    ok, fp = audio.band_fingerprint(x, 4000)
    assert not ok and fp == 0


def test_null_sr_headerless_pcm_contained_in_every_operator(spark):
    """The worst case for a NULL sr_hz: a headerless pcm clip, where no
    measured rate can win and the old ``int(NaN)`` crashed the whole Arrow
    batch. Every batched audio operator must emit its not-ok containment
    row instead."""
    from wallaby2caom2_spark.operators import (
        audio_fp,
        augment,
        features,
        normalize,
        segment,
        vad,
    )

    sig = _sig(n=1600, sr=16000)
    df = spark.createDataFrame(
        [("p", bytearray(audio.encode_pcm_s16le(sig)), None, 100, "pcm_s16le", "x")],
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    assert vad.vad_stats(df).collect()[0]["vad_ok"] is False
    assert features.feature_frames(df).collect()[0]["feat_ok"] is False
    assert normalize.normalize_clips(df).collect()[0]["norm_ok"] is False
    assert segment.segment_clips(df).count() == 0
    assert augment.speed_perturb(df).count() == 0
    assert augment.noise_mix(df).count() == 0
    # fingerprint: a rateless clip cannot resample to the fixed analysis
    # rate, so its fingerprint would be rate-VARIANT — gated out
    # (fp_ok=false), matching the fused audio_signals pass
    row = audio_fp.with_fingerprint(df).collect()[0]
    assert row["fp_ok"] is False


@pytest.mark.parametrize(
    "adapter", ["with_fused_features", "with_fused_features_retaining"]
)
def test_decode_null_declared_rate_is_contained(spark, adapter):
    """A NULL sr_hz arrives as None (Arrow) or NaN (pandas: nullable int →
    float64); both feature adapters must treat it as 'no declared rate' —
    the measured rate wins — instead of raising int(NaN). A NULL transcript
    is contained the same way."""
    from wallaby2caom2_spark.operators import fused_stage

    sig = _sig(n=1600, sr=16000)
    df = spark.createDataFrame(
        [
            ("a", bytearray(audio.encode_wav(sig, 16000)), None, 100, "wav", ""),
            ("b", bytearray(audio.encode_wav(sig, 16000)), 16000, 100, "wav", ""),
            ("c", bytearray(audio.encode_wav(sig, 16000)), None, 100, "wav", None),
        ],
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    out = {r["clip_id"]: r for r in getattr(fused_stage, adapter)(df).collect()}
    assert out["a"]["pcm_ok"] and out["a"]["sr_meas"] == 16000
    assert out["b"]["pcm_ok"] and out["b"]["sr_meas"] == 16000
    assert out["c"]["pcm_ok"] and out["c"]["sr_meas"] == 16000
    assert out["c"]["lang"] == "und" and out["c"]["scrubbed_all"] is None
