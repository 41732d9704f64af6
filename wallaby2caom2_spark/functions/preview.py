"""Waveform preview/thumbnail generation — a REAL derived binary artifact.

Reference analog (S11): ``wallaby2caom2/preview_augmentation.py:77-97``
renders a matplotlib plot of the data product and stores
``<file_id>_prev_256.png`` as a preview artifact
(``wallaby2caom2/storage_name.py:129-131``). The audio-pipeline analog is a
waveform-envelope thumbnail of the decoded PCM, encoded as an actual PNG.

No imaging library is needed: PNG encoding of 8-bit grayscale is signature +
IHDR + zlib-deflated filter-prefixed rows + IEND, all stdlib (``zlib`` /
``struct``), through the one codec in functions/png.py, whose
``decode_png`` reads the previews back.

Everything is deterministic: same samples → byte-identical PNG.
"""

from __future__ import annotations

import numpy as np

from .png import encode_png

THUMB_W = 256  # matches the reference's _prev_256 naming
THUMB_H = 64


def encode_png_gray(img: np.ndarray) -> bytes:
    """(h, w) uint8 array → 8-bit grayscale PNG bytes (filter-0 scanlines;
    delegates to the full codec in functions/png.py — one encoder, two
    entry points, byte-identity pinned in tests/test_png_codec.py)."""
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("expected (h, w) uint8")
    return encode_png(img)


def waveform_envelope(samples: np.ndarray, width: int = THUMB_W) -> np.ndarray:
    """Per-column peak amplitude in [0, 1]: ``width`` equal sample bins,
    max(|x|) per bin (the standard audio-editor waveform overview)."""
    n = len(samples)
    if n == 0:
        return np.zeros(width, dtype=np.float64)
    edges = (np.arange(width + 1, dtype=np.int64) * n) // width
    absx = np.abs(samples)
    env = np.maximum.reduceat(absx, np.minimum(edges[:-1], n - 1))
    # reduceat yields garbage for empty bins (start == next start); zero them
    empty = edges[1:] == edges[:-1]
    env[empty] = 0.0
    return np.clip(env.astype(np.float64), 0.0, 1.0)


SPEC_W = 256  # spectrogram preview geometry (same footprint as waveform)
SPEC_H = 64


def spectrogram_image(
    samples: np.ndarray | None, width: int = SPEC_W, height: int = SPEC_H
) -> np.ndarray | None:
    """Decoded samples → (height, width) uint8 log-magnitude spectrogram.

    ``width`` equal time bins; each bin contributes one rFFT of its first
    ``2*height`` samples (zero-padded), bins 1..height (DC dropped) give
    the rows, low frequency at the BOTTOM row like every audio editor.
    Amplitudes are dB relative to the clip's own peak magnitude, floored
    at -80 dB, mapped to 0..255 — so the image is gain-invariant (the
    same property the fingerprint has) and fully deterministic. A silent
    or empty clip renders all-black (None only for undecodable input)."""
    if samples is None or len(samples) == 0:
        return None
    n = len(samples)
    nfft = 2 * height
    edges = (np.arange(width + 1, dtype=np.int64) * n) // width
    mat = np.zeros((width, nfft), dtype=np.float64)
    for c in range(width):
        seg = samples[edges[c] : min(edges[c] + nfft, edges[c + 1])]
        mat[c, : len(seg)] = seg
    mags = np.abs(np.fft.rfft(mat, axis=1))[:, 1 : height + 1]  # (w, h)
    peak = mags.max()
    if peak <= 0.0:
        return np.zeros((height, width), dtype=np.uint8)
    db = 20.0 * np.log10(np.maximum(mags / peak, 1e-12))
    img = np.rint(np.clip((db + 80.0) / 80.0, 0.0, 1.0) * 255.0)
    return img.astype(np.uint8).T[::-1].copy()  # low freq at bottom


def spectrogram_thumbnail(
    samples: np.ndarray | None, width: int = SPEC_W, height: int = SPEC_H
) -> bytes | None:
    """Decoded samples → grayscale spectrogram PNG (None for undecodable
    clips, matching the waveform thumbnail's skip-on-failure contract)."""
    img = spectrogram_image(samples, width, height)
    return None if img is None else encode_png(img)


def waveform_thumbnail(
    samples: np.ndarray | None, width: int = THUMB_W, height: int = THUMB_H
) -> bytes | None:
    """Decoded PCM → white-on-black waveform PNG, vertically symmetric
    around the midline. None (undecodable clip) → None (no artifact),
    matching the reference's skip-on-failure preview behavior."""
    if samples is None or len(samples) == 0:
        return None
    env = waveform_envelope(samples, width)
    half = height // 2
    bar = np.rint(env * (half - 1)).astype(np.int64)  # rows above/below mid
    rows = np.arange(height).reshape(height, 1)
    mask = np.abs(rows - half) <= bar.reshape(1, width)
    img = np.where(mask, np.uint8(255), np.uint8(0)).astype(np.uint8)
    return encode_png_gray(img)
