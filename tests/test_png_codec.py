"""Full PNG codec tests (functions/png.py): encode/decode round-trip over
every (color type, filter) combination, corruption containment, and the
Spark pixel-stats operator end-to-end vs a serial decode loop."""

from __future__ import annotations

import numpy as np
import pytest

from wallaby2caom2_spark.functions.png import decode_png, encode_png
from wallaby2caom2_spark.functions.preview import encode_png_gray


def _img(shape, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("channels", [1, 3, 4])
@pytest.mark.parametrize("filt", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter_and_colortype(channels, filt):
    shape = (11, 17) if channels == 1 else (11, 17, channels)
    img = _img(shape, seed=channels * 10 + filt)
    out = decode_png(encode_png(img, filters=filt))
    assert out is not None and out.shape == img.shape
    assert (out == img).all()


def test_roundtrip_mixed_filters_and_edge_geometry():
    for shape, seed in [((1, 1), 1), ((1, 300, 3), 2), ((64, 1), 3),
                        ((23, 29, 4), 4)]:
        img = _img(shape, seed)
        h = shape[0]
        filters = [(seed + r) % 5 for r in range(h)]
        out = decode_png(encode_png(img, filters=filters))
        assert (out == img).all(), (shape, filters)


def test_filters_actually_change_the_stream():
    """Guard: the encoder must really write different filtered scanlines —
    a filter-ignoring encoder would make the unfilter paths untested."""
    img = _img((9, 13), seed=7)
    payloads = {f: encode_png(img, filters=f) for f in range(5)}
    assert len(set(payloads.values())) == 5
    # and each decodes back to the same pixels
    for f, p in payloads.items():
        assert (decode_png(p) == img).all(), f


def test_gray_filter0_matches_preview_encoder():
    """encode_png(img) with default filters is byte-identical to the
    preview sink's entry point (which delegates here), pinning that the
    delegation did not change the bytes on disk."""
    img = _img((16, 16), seed=9)
    payload = encode_png_gray(img)
    assert payload == encode_png(img)
    assert (decode_png(payload) == img).all()


def test_corruption_and_unsupported_are_contained():
    img = _img((8, 8), seed=11)
    good = encode_png(img)
    assert decode_png(None) is None
    assert decode_png(b"") is None
    assert decode_png(b"\x89PNG\r\n\x1a\n") is None  # signature only
    assert decode_png(good[:33]) is None  # IHDR only, no IDAT
    assert decode_png(good[:-12]) is None  # IEND missing
    bad_body = bytearray(good)
    bad_body[44] ^= 0xFF  # inside the IDAT body (sig 8 + IHDR 25 + hdr 8)
    assert decode_png(bytes(bad_body)) is None
    # pin the CRC check SPECIFICALLY: corrupt only the IEND CRC field —
    # everything else is intact, so a decoder that skipped CRC
    # verification would succeed here
    bad_crc = bytearray(good)
    bad_crc[-1] ^= 0xFF
    assert decode_png(bytes(bad_crc)) is None
    # 16-bit depth / interlace / palette are declared unsupported
    import struct

    def patch_ihdr(payload: bytes, offset: int, value: int) -> bytes:
        import zlib

        body = bytearray(payload[16:29])
        body[offset] = value
        crc = zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF
        return (
            payload[:16] + bytes(body) + struct.pack(">I", crc) + payload[33:]
        )

    assert decode_png(patch_ihdr(good, 8, 16)) is None  # bit depth 16
    assert decode_png(patch_ihdr(good, 9, 3)) is None  # palette
    assert decode_png(patch_ihdr(good, 12, 1)) is None  # Adam7


def test_hostile_geometry_and_bombs_are_contained():
    """UNTRUSTED header dimensions must not drive allocations: an IHDR
    claiming a huge geometry is rejected before inflate, and a stream
    whose deflate output disagrees with the declared geometry (bomb or
    truncation) is rejected by the bounded decompress."""
    import struct
    import zlib

    from wallaby2caom2_spark.functions.png import _PNG_SIG, _chunk

    def png_with(w, h, idat_body):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat_body)
            + _chunk(b"IEND", b"")
        )

    # declared 65535x65535: rejected at the IHDR bound, no allocation
    assert decode_png(png_with(65535, 65535, zlib.compress(b"\0" * 10))) is None
    # deflate bomb: tiny IDAT inflating far past the declared 2x2 geometry
    bomb = zlib.compress(b"\0" * 1_000_000, 9)  # ~1 KB compressed
    assert decode_png(png_with(2, 2, bomb)) is None
    # stream shorter than the declared geometry is rejected too
    short = zlib.compress(b"\0" * 3)
    assert decode_png(png_with(4, 4, short)) is None


def test_short_sniffed_png_emits_undecodable_row(spark):
    """A payload with the PNG signature but no full IHDR must still appear
    in the stats (decode_ok=false, zero geometry) — same containment
    contract as the JPEG worker — so quality rollups count it."""
    from wallaby2caom2_spark.operators import multimodal

    rows = [
        ("stub", bytearray(b"\x89PNG\r\n\x1a\n" + b"xx")),
        ("notpng", bytearray(b"GARBAGE!")),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r.asDict()
        for r in multimodal.png_pixel_stats(df).collect()
    }
    assert set(got) == {"stub"}
    g = got["stub"]
    assert g["decode_ok"] is False and (g["width"], g["height"]) == (0, 0)
    assert g["channels"] == 0 and g["px_sum"] is None


def test_png_pixel_stats_through_spark(spark):
    """The mapInPandas operator equals a serial decode loop on the media
    fixture — and non-PNG rows are dropped in the worker."""
    from wallaby2caom2_spark import datagen as dg
    from wallaby2caom2_spark.operators import multimodal

    rows = dg.generate_media_rows(60, seed=42)
    df = spark.createDataFrame(
        [(r["clip_id"], bytearray(r["bytes"])) for r in rows],
        "clip_id string, bytes binary",
    )
    got = {
        r["clip_id"]: r.asDict()
        for r in multimodal.png_pixel_stats(df).collect()
    }
    n_ok = n_bad = 0
    for r in rows:
        payload = r["bytes"]
        if not payload.startswith(b"\x89PNG"):
            assert r["clip_id"] not in got
            continue
        img = decode_png(payload)
        g = got[r["clip_id"]]
        if img is None:
            assert g["decode_ok"] is False and g["px_sum"] is None
            assert g["px_mean"] is None
            n_bad += 1
            continue
        flat = img.reshape(-1).astype(np.int64)
        assert g["decode_ok"] is True
        assert g["width"] == img.shape[1] and g["height"] == img.shape[0]
        assert g["channels"] == (1 if img.ndim == 2 else img.shape[2])
        assert g["n_vals"] == flat.size and g["px_sum"] == flat.sum()
        assert g["px_min"] == flat.min() and g["px_max"] == flat.max()
        assert g["px_mean"] == pytest.approx(
            round(flat.sum() / flat.size + 1e-9, 6), abs=1e-9
        )
        n_ok += 1
    assert n_ok >= 20 and n_bad >= 1
