"""Deterministic synthetic ``clips`` table generator (seed-driven).

Plays the role of the reference's committed test fixtures
(``wallaby2caom2/tests/data/**/*.fits.header`` + expected XMLs,
discovered by glob at ``tests/test_caom_gen_visit.py:87-89``): instead of
committing binary fixtures we commit this generator — same seed, same rows,
byte-identical parquet — per BASELINE.json input_hint schema:

    clips(clip_id string, bytes binary, sr_hz int, dur_ms int,
          codec string, transcript string)

Planted defects (each a cascade rule trigger) and planted PII/toxicity spans
are chosen by a per-row counter-based RNG, so row *i* is identical regardless
of chunking or generation order.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .functions import audio

SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)

_SRS = (8000, 16000, 22050)
_CODECS = ("pcm_s16le", "wav", "flac")

# Per-language phrase banks — deliberately different words from the langid
# seed corpus (functions/langid.py) so classification exercises trigram
# generalization, not memorized sentences. "it" is generated but NOT allowed
# (config.ALLOWED_LANGS) → trips lang_not_allowed.
_BANK: dict[str, list[str]] = {
    "en": "every morning children walk slowly towards school carrying heavy books while teachers prepare lessons inside warm classrooms near the river".split(),
    "fr": "chaque matin les enfants marchent lentement vers une ecole portant des livres lourds pendant que des maitres preparent leurs cours pres de la riviere".split(),
    "de": "jeden morgen gehen kinder langsam zur schule und tragen schwere buecher waehrend lehrer im warmen klassenzimmer am fluss den unterricht vorbereiten".split(),
    "es": "cada manana los ninos caminan despacio hacia la escuela llevando libros pesados mientras maestros preparan sus clases cerca del rio en aulas calidas".split(),
    "it": "ogni mattina i bambini camminano lentamente verso la scuola portando libri pesanti mentre gli insegnanti preparano le lezioni vicino al fiume".split(),
}
_GEN_LANGS = tuple(_BANK)

_PII_SNIPPETS = (
    "contact me at jane.doe{i}@example.com please",
    "my number is 555-123-4567 call anytime",
    "ssn on file 123-45-6789 for verification",
    "card 4111 1111 1111 1111 expires soon",
    "that frakking printer broke again",
    "what a scuzzbucket move honestly",
)

_CONSONANTS = np.array(list("bcdfghjklmnpqrstvwxz"))


def _rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence(entropy=seed, spawn_key=(i,)))


def _sentence(rng: np.random.Generator, lang: str, n_words: int) -> str:
    words = rng.choice(_BANK[lang], size=n_words)
    return " ".join(words).capitalize() + "."


def _make_transcript(rng: np.random.Generator, i: int, text_mult: int = 1) -> str:
    """Transcript with planted text-rule defects + PII spans. ``text_mult``
    scales the clean-path sentence count (text-heavy bench profile)."""
    lang = _GEN_LANGS[int(rng.integers(len(_GEN_LANGS)))]
    roll = rng.random()
    if roll < 0.02:  # too_short
        return _BANK[lang][int(rng.integers(len(_BANK[lang])))][:6]
    if roll < 0.03:  # too_long
        return " ".join(_sentence(rng, lang, 18) for _ in range(120))
    if roll < 0.06:  # repetition
        w = " ".join(rng.choice(_BANK[lang], size=3))
        return (w + " ") * int(rng.integers(8, 20))
    if roll < 0.09:  # gibberish → perplexity_high
        chars = rng.choice(_CONSONANTS, size=int(rng.integers(60, 160)))
        s = "".join(chars)
        return " ".join(s[j : j + 7] for j in range(0, len(s), 7))
    if roll < 0.12:  # mixed-language → langid_low_conf (usually)
        l2 = _GEN_LANGS[int(rng.integers(len(_GEN_LANGS)))]
        return _sentence(rng, lang, 7) + " " + _sentence(rng, l2, 7)
    n_sent = int(rng.integers(1, 4)) * text_mult
    text = " ".join(_sentence(rng, lang, int(rng.integers(8, 16))) for _ in range(n_sent))
    if rng.random() < 0.15:  # planted PII / toxicity (orthogonal to keep)
        snippet = _PII_SNIPPETS[int(rng.integers(len(_PII_SNIPPETS)))].format(i=i)
        text = text + " " + snippet
    return text


def _make_audio(
    rng: np.random.Generator, i: int, dur_range: tuple[int, int] = (200, 3000)
) -> tuple[bytes, int, int, str]:
    """→ (payload, declared sr_hz, declared dur_ms, codec), defects planted."""
    sr = int(_SRS[int(rng.integers(len(_SRS)))])
    dur_ms = int(rng.integers(*dur_range))
    n = int(sr * dur_ms / 1000)
    t = np.arange(n, dtype=np.float32) / sr
    f0 = 80.0 + float(rng.random()) * 600.0
    # speech-like syllable envelope: 3-6 Hz bursts (random phase/duty) over a
    # constant noise floor — gives energy-VAD real on/off dynamics (a bare
    # steady tone correctly scores speech_ratio 0, which made every clip
    # degenerate for VAD-composed queries)
    f_mod = 3.0 + float(rng.random()) * 3.0
    phase = float(rng.random())
    duty = 0.4 + float(rng.random()) * 0.3
    env = np.where(
        np.mod(f_mod * t + phase, 1.0) < duty, 1.0, 0.08
    ).astype(np.float32)
    samples = 0.4 * np.sin(2 * np.pi * f0 * t) * env + 0.05 * rng.standard_normal(
        n
    ).astype(np.float32)
    samples = samples.astype(np.float32)
    codec = _CODECS[int(rng.integers(len(_CODECS)))]
    declared_sr, declared_dur = sr, dur_ms

    roll = rng.random()
    if roll < 0.02:  # codec_invalid: unknown codec tag
        codec = "bad"
    elif roll < 0.04:  # decode_failed: truncated payload
        samples = samples[: max(1, n // 3)]
        declared_dur = dur_ms  # container length now lies → wav/flac fail
        if codec == "pcm_s16le":
            # raw pcm can't "lie"; force odd byte count instead
            return audio.encode_pcm_s16le(samples)[:-1], sr, dur_ms, codec
        payload = _encode(samples, sr, codec)
        # truncate the container mid-data so the parser rejects it
        return payload[: len(payload) - n], sr, dur_ms, codec
    elif roll < 0.05:  # decode_failed: zero-length payload
        return b"", sr, dur_ms, codec
    elif roll < 0.07 and codec in ("wav", "flac"):  # sr_mismatch
        declared_sr = int(_SRS[(_SRS.index(sr) + 1) % len(_SRS)])
    elif roll < 0.09:  # duration_mismatch: declared dur off by 2x
        declared_dur = dur_ms * 2
    elif roll < 0.105:  # audio_silence
        samples = samples * 1e-5
    elif roll < 0.12:  # audio_clipping
        samples = np.clip(samples * 8.0, -1.0, 1.0)
    elif roll < 0.135:  # audio_dropout: hard-zeroed interior span (the
        # transport/encoder fault a real corpus shows as a digital dropout)
        n_drop = int(sr * (0.06 + 0.19 * float(rng.random())))
        if n >= n_drop + 2:
            start = 1 + int(rng.integers(n - n_drop - 1))
            samples[start : start + n_drop] = 0.0

    return _encode(samples, sr, codec), declared_sr, declared_dur, codec


def _encode(samples: np.ndarray, sr: int, codec: str) -> bytes:
    if codec == "wav" or codec == "bad":
        return audio.encode_wav(samples, sr)
    if codec == "flac":
        return audio.encode_flac_stub(samples, sr)
    return audio.encode_pcm_s16le(samples)


# Generation profiles. "default" matches the original fixture distribution
# (golden tests depend on it byte-for-byte); "text_heavy" is the scaling
# bench profile: short audio, 3x transcripts — per-row CPU dominates I/O.
PROFILES: dict[str, dict] = {
    "default": {"dur_range": (200, 3000), "text_mult": 1},
    # Scaling-bench profile: short audio + 6x transcripts. Rationale: the
    # sandbox's toy langid/LM/scrub are 10-50x cheaper per row than the real
    # fastText + KenLM models the north rule names, so a compute-heavier mix
    # is the honest proxy for per-row cost at production scale.
    "text_heavy": {"dur_range": (50, 150), "text_mult": 6},
}


def generate_rows(
    n: int,
    seed: int = 42,
    start: int = 0,
    skew_hot_frac: float = 0.05,
    profile: str = "default",
):
    """Yield row dicts [start, start+n). ``skew_hot_frac`` of clip_ids share a
    hot prefix bucket — exercises the salted repartition (north rule)."""
    p = PROFILES[profile]
    for i in range(start, start + n):
        rng = _rng(seed, i)
        payload, sr, dur, codec = _make_audio(rng, i, dur_range=p["dur_range"])
        hot = rng.random() < skew_hot_frac
        cid = f"hot_{i % 7:01d}_{i:010d}" if hot else f"clip_{i:010d}"
        yield {
            "clip_id": cid,
            "bytes": payload,
            "sr_hz": sr,
            "dur_ms": dur,
            "codec": codec,
            "transcript": _make_transcript(rng, i, text_mult=p["text_mult"]),
        }


def generate_table(
    n: int, seed: int = 42, start: int = 0, profile: str = "default"
) -> pa.Table:
    rows = list(generate_rows(n, seed=seed, start=start, profile=profile))
    return pa.Table.from_pylist(rows, schema=SCHEMA)


def _write_chunk(args: tuple) -> str:
    path, part, start, count, seed, profile = args
    chunk = generate_table(count, seed=seed, start=start, profile=profile)
    fqn = os.path.join(path, f"part-{part:05d}.parquet")
    pq.write_table(chunk, fqn)
    return fqn


def encode_jpeg_header(
    width: int, height: int, filler: bytes, comment: bytes | None = None
) -> bytes:
    """Minimal-but-REAL JPEG byte stream: SOI, JFIF APP0, an optional COM
    segment (so a dimensions parser must genuinely walk the marker chain
    instead of assuming a fixed SOF offset), a baseline SOF0 carrying the
    true height/width, entropy filler, EOI. Any SOF-walking reader (ours,
    PIL, exiftool) recovers the same geometry; only the entropy data is
    fake — there is no DHT/SOS, which a geometry parse never reaches."""
    import struct

    out = [
        b"\xff\xd8",  # SOI
        # APP0/JFIF: len 16 = len(2) + 'JFIF\0'(5) + version(2) + units(1)
        # + density(4) + thumbnail(2)
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00",
    ]
    if comment is not None:
        out.append(b"\xff\xfe" + struct.pack(">H", 2 + len(comment)) + comment)
    # SOF0, 1 grayscale component: len 11 = len(2) + precision(1) + h(2)
    # + w(2) + ncomp(1) + component(3)
    out.append(
        b"\xff\xc0" + struct.pack(">HBHH", 11, 8, height, width)
        + b"\x01\x11\x00"
    )
    out.append(filler)
    out.append(b"\xff\xd9")  # EOI
    return b"".join(out)


def png_pixel_values(i: int, n_vals: int) -> np.ndarray:
    """CLOSED-FORM pixel rule for the media fixture's PNG rows — the single
    definition shared by the generator, the fixture tests, and (re-expressed
    in SQL) the analytic DuckDB oracles. Default: value at flat index k is
    ``(k * (i + 3)) % 251``. Four sub-rules (active only on indices that
    land in the PNG rolls) plant one row per image-quality class the gate
    cascade must catch (operators/multimodal.py with_image_quality_class):

    - ``i % 25 == 20`` → constant frame: every value ``(i * 7) % 251``
    - ``i % 25 == 21`` → low contrast: ``(i * 5) % 200 + (k % 8) * 4``
      (dynamic range 28 < 32)
    - ``i % 25 == 22`` → dark: 255 at every 127th index, else 0
    - ``i % 25 == 23`` → bright: 0 at every 127th index, else 255
    """
    k = np.arange(n_vals, dtype=np.int64)
    r = i % 25
    if r == 20:
        vals = np.full(n_vals, (i * 7) % 251, dtype=np.int64)
    elif r == 21:
        vals = (i * 5) % 200 + (k % 8) * 4
    elif r == 22:
        vals = np.where(k % 127 == 0, 255, 0)
    elif r == 23:
        vals = np.where(k % 127 == 0, 0, 255)
    else:
        vals = (k * (i + 3)) % 251
    return vals.astype(np.uint8)


def generate_media_rows(n: int, seed: int = 42, start: int = 0) -> list[dict]:
    """Deterministic image-mix rows (clip_id, bytes) for the multimodal
    operator: real PNGs (hand-encoded via functions/png.py — the full
    in-tree codec), real JPEGs in three flavors (a FULL baseline
    entropy-coded stream via functions/jpeg.py, a header-only stream with
    a COM segment before SOF0, and a corrupt JPEG-magic payload), plus raw
    and empty payloads — so every branch of the media-kind sniff, the IHDR
    parse, the SOF marker walk, and both pixel decoders is exercised by
    data both engines can read.

    The PNG pixels follow a CLOSED-FORM rule (``png_pixel_values``: default
    ``(k * (i + 3)) % 251`` at flat index k, plus four per-index sub-rules
    planting one row per image-quality class), gray (kind_roll 0/2/4) or
    RGB (1/3), one of
    the five spec filters per scanline (``(i + row) % 5``) — so a DuckDB
    oracle can recompute every pixel statistic analytically WITHOUT being
    able to inflate zlib: the only way the Spark side matches is by
    genuinely decompressing and unfiltering the scanlines
    (queries/clips_flagship.py ``png_pixel_oracle``). Every 50th index
    ending the png roll (i % 50 == 10) is truncated right after the IHDR
    chunk: geometry still parses, pixel decode must fail. Full JPEGs
    (roll 5) use the SAME rule at 8x8-BLOCK granularity — block b holds
    ``(b * (i + 3)) % 251`` — because the flat-quant DCT round trip is
    exact only for block-constant input (``jpeg_pixel_oracle``)."""
    from .functions.jpeg import encode_jpeg_gray
    from .functions.png import encode_png

    rows: list[dict] = []
    for i in range(start, start + n):
        rng = _rng(seed + 7_000_000, i)
        kind_roll = i % 10
        if kind_roll < 5:  # real PNG, varied geometry, gray or RGB
            w = 16 + int(rng.integers(0, 100))
            h = 16 + int(rng.integers(0, 80))
            channels = 3 if kind_roll in (1, 3) else 1
            vals = png_pixel_values(i, w * h * channels)
            img = vals.reshape((h, w) if channels == 1 else (h, w, channels))
            payload = encode_png(img, filters=[(i + r) % 5 for r in range(h)])
            if i % 50 == 10:
                # sig(8) + IHDR chunk(25) = 33 bytes: dims readable, no IDAT
                payload = payload[:33]
        elif kind_roll == 5:
            # FULL baseline grayscale JPEG (functions/jpeg.py): pixels
            # constant per 8x8 block, block b = (b * (i + 3)) % 251 — the
            # flat-quant round trip is EXACT on block-constant input, so
            # the decoded-pixel statistics are closed-form for the oracle
            bw8 = 2 + int(rng.integers(0, 12))  # blocks across: 16..104 px
            bh8 = 2 + int(rng.integers(0, 8))  # blocks down: 16..72 px
            blocks = (
                (np.arange(bh8 * bw8, dtype=np.int64) * (i + 3)) % 251
            ).reshape(bh8, bw8)
            img = np.kron(blocks, np.ones((8, 8), np.int64)).astype(np.uint8)
            payload = encode_jpeg_gray(img, quant=1)
        elif kind_roll < 8:  # JPEG: header-only layout + one corrupt
            body_len = 64 + int(rng.integers(0, 4096))
            filler = bytes((i * 31 + j) % 256 for j in range(body_len))
            if kind_roll == 7:
                # JPEG magic then a stuffed-byte 0xFF00 where the first
                # marker belongs: sniffs as jpeg, fails the SOF walk
                payload = b"\xff\xd8\xff\x00" + filler
            else:
                w = 16 + int(rng.integers(0, 2000))  # 2-byte widths too
                h = 16 + int(rng.integers(0, 1200))
                payload = encode_jpeg_header(
                    w, h, filler, comment=b"m" * (3 + i % 9)
                )
        elif kind_roll < 9:  # unrecognized container
            payload = b"GARB" + bytes((i + j) % 256 for j in range(40))
        else:  # empty
            payload = b""
        rows.append({"clip_id": f"media_{i:06d}", "bytes": payload})
    return rows


def write_media_parquet(path: str, n: int, seed: int = 42) -> str:
    """Write the image-mix side table (one file; it is branch-coverage
    data, not scale data — the clips table provides the volume)."""
    os.makedirs(path, exist_ok=True)
    rows = generate_media_rows(n, seed)
    table = pa.table(
        {
            "clip_id": pa.array([r["clip_id"] for r in rows], pa.string()),
            "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
    return path


def generate_video_rows(n: int, seed: int = 42, start: int = 0) -> list[dict]:
    """Deterministic raw-video rows (clip_id, bytes) for the frame-sample
    operator: a trivially parseable uncompressed container (no video libs
    exist in this environment, so the container is DEFINED here — the
    Spark-side plumbing it exercises is real: header parse, bounded frame
    math, strided per-frame stats, error containment).

    Layout 'RVID' (all fields BIG-endian so a DuckDB oracle can read them
    as fixed-offset hex): magic(4) | u16 w | u16 h | u16 fps |
    u32 n_frames | n_frames frames of w*h gray8 pixels. Frame ``f`` pixel
    at flat index ``k`` follows the closed-form rule
    ``(k*(i+3) + 17*f) % 251`` (the video analog of ``png_pixel_values``),
    so the oracle recomputes every sampled-frame statistic analytically —
    the only way the Spark side matches is by genuinely slicing the frame
    planes at the right offsets.

    Error branches: i%10==7 declares two more frames than the payload
    carries (truncated tail — partial decode, decode_ok=false); ==8 is a
    zero-width header (no frame math possible); ==9 is an empty payload.
    """
    rows: list[dict] = []
    for i in range(start, start + n):
        rng = _rng(seed + 9_000_000, i)
        roll = i % 10
        if roll == 9:
            payload = b""
        elif roll == 8:
            payload = (
                b"RVID" + (0).to_bytes(2, "big") + (24).to_bytes(2, "big")
                + (25).to_bytes(2, "big") + (4).to_bytes(4, "big")
            )
        else:
            w = 16 + int(rng.integers(0, 49))
            h = 12 + int(rng.integers(0, 37))
            fps = 10 + int(rng.integers(0, 21))
            n_frames = 4 + int(rng.integers(0, 9))
            k = np.arange(w * h, dtype=np.int64)
            frames = [
                ((k * (i + 3) + 17 * f) % 251).astype(np.uint8).tobytes()
                for f in range(n_frames)
            ]
            declared = n_frames + (2 if roll == 7 else 0)
            payload = (
                b"RVID"
                + w.to_bytes(2, "big")
                + h.to_bytes(2, "big")
                + fps.to_bytes(2, "big")
                + declared.to_bytes(4, "big")
                + b"".join(frames)
            )
        rows.append({"clip_id": f"video_{i:06d}", "bytes": payload})
    return rows


def write_video_parquet(path: str, n: int, seed: int = 42) -> str:
    """Write the raw-video side table (one file; branch-coverage data)."""
    os.makedirs(path, exist_ok=True)
    rows = generate_video_rows(n, seed)
    table = pa.table(
        {
            "clip_id": pa.array([r["clip_id"] for r in rows], pa.string()),
            "bytes": pa.array([r["bytes"] for r in rows], pa.binary()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-000.parquet"))
    return path


def write_clips_parquet(
    path: str,
    n: int,
    seed: int = 42,
    rows_per_file: int = 25_000,
    profile: str = "default",
    workers: int = 1,
) -> str:
    """Write the clips table as a multi-file parquet dataset (so Spark gets
    parallel input splits even before the salted repartition). Generation is
    per-row counter-seeded, so parallel workers produce identical bytes."""
    os.makedirs(path, exist_ok=True)
    jobs = [
        (path, part, start, min(rows_per_file, n - start), seed, profile)
        for part, start in enumerate(range(0, n, rows_per_file))
    ]
    if workers > 1:
        from concurrent.futures import ProcessPoolExecutor

        with ProcessPoolExecutor(max_workers=workers) as pool:
            list(pool.map(_write_chunk, jobs))
    else:
        for job in jobs:
            _write_chunk(job)
    return path


def generate_once(path: str, write: Callable[[str], object]) -> str:
    """``path``, filled by ``write`` once and then reused: the one cache
    protocol for generated datasets.

    A dataset is complete when its ``_SUCCESS_GEN`` marker exists, and then
    ``write`` is not called. Otherwise ``write(tmp)`` fills a process-private
    ``<path>.gen-<pid>`` directory, the marker is written into it, and the
    directory is renamed to ``path``, so a concurrent reader never scans a
    half-written file. A process that loses the rename race discards its
    copy; the generators are seed-pinned, so the winner's bytes are the
    same. If ``write`` raises, the private directory is removed and nothing
    appears at ``path``."""
    marker = "_SUCCESS_GEN"
    if os.path.exists(os.path.join(path, marker)):
        return path
    tmp = f"{path}.gen-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    try:
        write(tmp)
        with open(os.path.join(tmp, marker), "w") as fh:
            fh.write("ok")
        try:
            os.rename(tmp, path)
        except OSError:
            pass  # another process won the race with an identical copy
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
