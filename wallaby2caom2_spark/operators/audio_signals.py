"""One-decode multi-signal gate pass: fingerprint + VAD + spectral shape.

The three audio gates (content fingerprint for near-dup, energy VAD for
speech presence, spectral shape for tonal artifacts) each need the decoded
samples. Run separately they decode the corpus three times — at 100 TB that
is three full reads of the payload column for ~40 bytes/clip of output
each. This operator decodes ONCE per clip and emits every gate signal from
that single pass: the container parses once, the int16 view feeds the VAD's
exact integer energies, and one int16→float32 conversion feeds the
fingerprint and the Welch spectrum.

Numerically identical to the standalone operators (same helper functions:
``vad._clip_vad``, ``spectral._clip_spectrum``, ``audio.band_fingerprint``;
the float conversion is the same /32767 scaling ``decode_clip`` applies),
pinned by tests/test_audio_signals.py.

Spark shape: one ``mapInPandas`` projection on the scan, payload dies in
the worker, ~60 bytes/clip out, no shuffle. Undecodable / rateless clips
emit ``sig_ok=false`` containment rows.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import audio
from .fused_stage import CLIP_FIELDS, FUSED_SCHEMA, features_batch
from .spectral import _clip_spectrum
from .vad import _clip_vad

if TYPE_CHECKING:  # annotation-only: avoids a config import at worker load
    from ..config import PipelineConfig

SIGNALS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("sig_ok", T.BooleanType()),
        T.StructField("fp_ok", T.BooleanType()),
        T.StructField("fp", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_speech_frames", T.IntegerType()),
        T.StructField("speech_ratio", T.DoubleType()),
        T.StructField("n_speech_runs", T.IntegerType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("spec_ok", T.BooleanType()),
        T.StructField("flatness", T.DoubleType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("peak_share", T.DoubleType()),
    ]
)


class _SignalArrays:
    """Per-batch output accumulators for the gate signals, shared by the
    survivors-only pass (``audio_signals``) and the whole-corpus fused pass
    (``quality_and_signals``) so the two can never diverge numerically
    (pinned by tests/test_audio_signals.py)."""

    def __init__(self, n: int):
        self.ok = np.zeros(n, dtype=bool)
        self.fp_ok = np.zeros(n, dtype=bool)
        self.fp = np.zeros(n, dtype=np.int64)
        self.n_fr = np.zeros(n, dtype=np.int32)
        self.n_sp = np.zeros(n, dtype=np.int32)
        self.runs = np.zeros(n, dtype=np.int32)
        self.snr = np.zeros(n, dtype=np.float64)
        self.sp_ok = np.zeros(n, dtype=bool)
        self.flat = np.zeros(n, dtype=np.float64)
        self.cent = np.zeros(n, dtype=np.float64)
        self.peak = np.zeros(n, dtype=np.float64)

    def fill_row(
        self, i: int, raw, codec, sr_decl, frame_ms: int, hop_ms: int, gate_db: float
    ) -> None:
        """Decode one clip (zero-copy int16 view) and write every gate
        signal for row ``i``; undecodable / rateless clips leave the
        containment defaults (ok=False)."""
        # pass the Arrow buffer through as-is: decode_clip_i16 views it
        # zero-copy (a bytes() wrap here would memcpy the full payload —
        # the exact traffic this fused pass exists to avoid)
        x16, sr_meas = audio.decode_clip_i16(raw, codec)
        if x16 is None or len(x16) == 0:
            return
        sr = sr_meas or audio.declared_sr(sr_decl)
        if sr <= 0:
            return
        self.ok[i] = True
        self.n_fr[i], self.n_sp[i], self.runs[i], self.snr[i] = _clip_vad(
            x16, sr, frame_ms, hop_ms, gate_db
        )
        # the one int16→float conversion of the pass — the same
        # _FULL_SCALE scaling decode_clip applies, so fp/spectrum
        # match the standalone operators bit-for-bit
        xf = x16.astype(np.float32) / audio._FULL_SCALE
        # ONE decimation to the shared 4 kHz analysis rate: fingerprint and
        # spectrum both open with exactly this resample_linear call, so
        # pre-applying it is bit-identical to the standalone operators
        # (pinned in tests/test_audio_signals.py) and halves the second-
        # hottest line of the fused pass
        if sr > audio._FP_ANALYSIS_SR:
            xd, sr_d = (
                audio.resample_linear(xf, sr, audio._FP_ANALYSIS_SR),
                audio._FP_ANALYSIS_SR,
            )
        else:
            xd, sr_d = xf, sr
        self.fp_ok[i], self.fp[i] = audio.band_fingerprint(xd, sr_d)
        res = _clip_spectrum(xd, sr_d)
        if res is not None:
            self.sp_ok[i] = True
            self.flat[i], self.cent[i], self.peak[i] = res

    def columns(self, n: int) -> dict:
        return {
            "sig_ok": self.ok,
            "fp_ok": self.fp_ok,
            "fp": self.fp,
            "n_frames": self.n_fr,
            "n_speech_frames": self.n_sp,
            "speech_ratio": np.round(
                np.divide(
                    self.n_sp,
                    self.n_fr,
                    out=np.zeros(n, dtype=np.float64),
                    where=self.n_fr > 0,
                )
                + 1e-12,
                6,
            ),
            "n_speech_runs": self.runs,
            "snr_db": np.round(self.snr + 1e-9, 3),
            "spec_ok": self.sp_ok,
            "flatness": np.round(self.flat + 1e-12, 6),
            "centroid_hz": np.round(self.cent + 1e-9, 2),
            "peak_share": np.round(self.peak + 1e-12, 6),
        }


def audio_signals(
    df: DataFrame,
    frame_ms: int = 20,
    hop_ms: int = 10,
    gate_db: float = 10.0,
) -> DataFrame:
    """(clip_id, bytes, codec, sr_hz) → every gate signal, one decode."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            sig = _SignalArrays(n)
            for i, (raw, codec, sr_decl) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                sig.fill_row(i, raw, codec, sr_decl, frame_ms, hop_ms, gate_db)
            cols = sig.columns(n)
            yield pd.DataFrame({"clip_id": pdf["clip_id"], **cols})

    cols = ["clip_id", "bytes", "codec", "sr_hz"]
    return df.select(*cols).mapInPandas(_run, SIGNALS_SCHEMA)


QUALITY_SIGNALS_SCHEMA = T.StructType(
    FUSED_SCHEMA.fields
    + [f for f in SIGNALS_SCHEMA.fields if f.name != "clip_id"]
)


def _opt_int(value) -> int | None:
    """Nullable declared-metadata value → int or None (pandas hands a
    nullable int32 column over as float64-with-NaN or object-with-None;
    the cascade's NULL semantics need the distinction ``declared_sr``
    collapses away)."""
    if value is None or value != value:
        return None
    return int(value)


def quality_and_signals(
    df: DataFrame,
    frame_ms: int = 20,
    hop_ms: int = 10,
    gate_db: float = 10.0,
    signals_for_dropped: bool = False,
    cfg: "PipelineConfig | None" = None,
) -> DataFrame:
    """The curation DAG's single payload pass: quality-filter features AND
    every audio gate signal from ONE decode of ONE scan.

    The round-2 funnel ran two payload passes (quality filter over all
    clips, then ``audio_signals`` over survivors) stitched by a
    ``clips ⋈ kept_ids`` semi-join — a second full read of the payload
    column and, past broadcast scale, a payload shuffle. This pass reads
    each clip once, computes the quality features (``features_batch``, the
    flagship stage's own kernel) and the fingerprint/VAD/spectral signals
    (shared ``_SignalArrays`` helper — byte-identical to ``audio_signals``),
    so the whole funnel downstream is codegen + slim joins.

    By default the expensive signal block (fingerprint FFT + Welch
    spectrum + VAD) is SKIPPED for clips the quality cascade is about to
    drop: the worker evaluates the same first-match-wins decision chain the
    codegen cascade runs (``oracle.drop_reason_from_features`` — the
    single factored implementation the serial labeler uses, whose equality
    with the Catalyst when-chain is pinned by the golden fixtures and the
    flagship's row-level oracle) on the values this very pass computed,
    and only survivors pay for the FFTs. Dropped clips carry the same
    ``sig_ok=false`` containment defaults as undecodable ones — the funnel
    never reads gate signals of a stage-1-dropped clip (its stage label
    short-circuits at ``~keep``). ``signals_for_dropped=True`` restores
    unconditional computation (the numerical-identity tests use it to pin
    this pass against the standalone operators on every row; production
    equivalence of the DEFAULT path is pinned by
    tests/test_audio_signals.py::test_gated_signals_match_for_kept_clips
    and test_curate.py — identical ``_staged`` output either way).

    Two gate safeguards: (1) ``cfg`` must be the SAME config the consumer
    passes to ``cascade.with_keep_drop`` (defaults to ``DEFAULT_CONFIG``,
    like the cascade) — a mismatched pair would silently skip signals for
    clips the cascade keeps; (2) a predicted ``repetition`` drop does NOT
    skip, because that is the one rule whose input (``rep_ratio``) the
    worker re-derives via ``str.split()`` while the cascade tokenizes with
    codegen ``(?U)\\S+`` — the two disagree on exotic control characters
    (U+001C-001F), and every OTHER rule compares the bit-identical values
    this pass itself emits, so only ``repetition`` could mispredict.

    The container header is parsed twice per clip (the kernel's decode + the
    signal decode) — both return zero-copy int16 views, so no sample data
    is copied either time."""
    from ..config import DEFAULT_CONFIG

    gate_cfg = cfg if cfg is not None else DEFAULT_CONFIG

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..oracle import drop_reason_from_features, transcript_shape

        for pdf in batches:
            n = len(pdf)
            texts = pdf["transcript"].tolist()
            f = features_batch(pdf["bytes"], pdf["codec"], pdf["sr_hz"], texts)
            # python scalars: the gate compares exactly as the labeler does
            ok, srm, dur, rms, clip, dropm, lang, conf, ppl = (
                f[k].tolist()
                for k in (
                    "pcm_ok", "sr_meas", "dur_ms_meas", "rms", "clip_rate",
                    "dropout_ms", "lang", "lang_conf", "ppl",
                )
            )
            dur_decl = pdf["dur_ms"].to_numpy()
            sig = _SignalArrays(n)
            for i, (raw, codec, sr_decl) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                if not signals_for_dropped:
                    n_chars, rep_ratio = transcript_shape(texts[i])
                    reason = drop_reason_from_features(
                        codec, _opt_int(sr_decl), _opt_int(dur_decl[i]),
                        ok[i], srm[i], dur[i], rms[i], clip[i], dropm[i],
                        n_chars, rep_ratio, ppl[i], lang[i], conf[i], gate_cfg,
                    )
                    if reason is not None and reason != "repetition":
                        continue  # containment defaults, like undecodable
                sig.fill_row(i, raw, codec, sr_decl, frame_ms, hop_ms, gate_db)
            yield pd.DataFrame(
                {
                    **{c.name: pdf[c.name] for c in CLIP_FIELDS},
                    **f,
                    **sig.columns(n),
                }
            )

    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return df.select(*cols).mapInPandas(_run, QUALITY_SIGNALS_SCHEMA)
