"""S11 preview-artifact tests (reference analog: the preview visitor golden
test ``wallaby2caom2/tests/test_preview_augmentation.py`` — generate the
thumbnail, verify the artifact)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from wallaby2caom2_spark.functions.png import decode_png
from wallaby2caom2_spark.functions.preview import (
    SPEC_H,
    SPEC_W,
    THUMB_H,
    THUMB_W,
    encode_png_gray,
    spectrogram_image,
    spectrogram_thumbnail,
    waveform_envelope,
    waveform_thumbnail,
)
from wallaby2caom2_spark.operators.preview import with_previews, with_spectrograms


def test_png_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(17, 41), dtype=np.uint8)
    data = encode_png_gray(img)
    assert data.startswith(b"\x89PNG")
    back = decode_png(data)
    assert (back == img).all()


def test_envelope_ramp():
    # linearly rising signal → monotone envelope ending at full scale
    samples = np.linspace(0.0, 1.0, 10_000, dtype=np.float32)
    env = waveform_envelope(samples, width=64)
    assert env.shape == (64,)
    assert (np.diff(env) >= 0).all()
    assert abs(env[-1] - 1.0) < 1e-6
    assert env[0] < 0.05


def test_thumbnail_deterministic_and_shaped():
    rng = np.random.default_rng(9)
    samples = (0.5 * np.sin(np.linspace(0, 60, 8000))).astype(np.float32)
    a = waveform_thumbnail(samples)
    b = waveform_thumbnail(samples)
    assert a == b  # byte-identical
    img = decode_png(a)
    assert img.shape == (THUMB_H, THUMB_W)
    # waveform is white-on-black and symmetric around the midline
    assert set(np.unique(img)) <= {0, 255}
    top, bottom = img[: THUMB_H // 2], img[THUMB_H // 2 + 1 :]
    assert (top[::-1][: bottom.shape[0]] == bottom).all()
    assert waveform_thumbnail(None) is None
    assert waveform_thumbnail(np.array([], dtype=np.float32)) is None


def test_with_previews_stage(spark, clips_df, oracle_labels):
    out = with_previews(clips_df).persist()
    rows = {r["clip_id"]: r for r in out.collect()}
    assert len(rows) == clips_df.count()
    # decodable clips (oracle pcm_ok) get a real PNG; undecodable get NULL
    ok_by_oracle = {o["clip_id"]: o["pcm_ok"] for o in oracle_labels}
    for cid, r in rows.items():
        assert r["prev_ok"] == ok_by_oracle[cid]
        if r["prev_ok"]:
            img = decode_png(bytes(r["thumb_png"]))
            assert img.shape == (r["thumb_h"], r["thumb_w"])
            assert r["thumb_name"] == f"{cid}_prev_{THUMB_W}.png"
        else:
            assert r["thumb_png"] is None
    # derived artifact is small: the binary column shrinks ~10x vs input
    sizes = out.select(F.sum(F.length("thumb_png")).alias("s")).first()["s"]
    assert 0 < sizes < 1000 * 3000
    out.unpersist()


def test_spectrogram_tone_row():
    # a pure tone concentrates energy in one spectrogram row; its bin for
    # f = sr * k / nfft (nfft = 2*SPEC_H) maps to row SPEC_H - k
    sr, k = 16_000, 24
    t = np.arange(sr, dtype=np.float64)
    samples = (0.5 * np.sin(2 * np.pi * (k / (2 * SPEC_H)) * t)).astype(
        np.float32
    )
    img = spectrogram_image(samples)
    assert img.shape == (SPEC_H, SPEC_W)
    hottest = img.argmax(axis=0)  # per-column brightest row
    assert (hottest == SPEC_H - k).mean() > 0.9
    # tone row saturates; far rows only see rectangular-window leakage
    # (~-35 dB), a ≥100-step contrast on the 0..255 scale
    assert img[SPEC_H - k].mean() > 250
    assert img[SPEC_H - k].mean() > img[0].mean() + 100
    assert img[SPEC_H - k].mean() > img[SPEC_H - 1].mean() + 100


def test_spectrogram_gain_invariant_and_edge_cases():
    rng = np.random.default_rng(4)
    x = rng.standard_normal(9000).astype(np.float32) * 0.3
    a = spectrogram_thumbnail(x)
    b = spectrogram_thumbnail(x * 7.5)  # dB-relative-to-peak → identical
    assert a == b and a is not None
    assert spectrogram_thumbnail(None) is None
    assert spectrogram_thumbnail(np.array([], dtype=np.float32)) is None
    silent = spectrogram_image(np.zeros(5000, dtype=np.float32))
    assert silent.shape == (SPEC_H, SPEC_W) and (silent == 0).all()


def test_with_spectrograms_stage(spark, clips_df, oracle_labels):
    out = with_spectrograms(clips_df).persist()
    rows = {r["clip_id"]: r for r in out.collect()}
    assert len(rows) == clips_df.count()
    ok_by_oracle = {o["clip_id"]: o["pcm_ok"] for o in oracle_labels}
    for cid, r in rows.items():
        assert r["sgram_ok"] == ok_by_oracle[cid]
        if r["sgram_ok"]:
            img = decode_png(bytes(r["sgram_png"]))
            assert img.shape == (r["sgram_h"], r["sgram_w"])
            assert r["sgram_name"] == f"{cid}_spec_{SPEC_W}.png"
        else:
            assert r["sgram_png"] is None
    out.unpersist()
