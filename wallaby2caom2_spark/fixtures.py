"""Oracle-replay fixtures: per-clip operator outputs computed in PURE
PYTHON (no Spark) from the cached clips parquet.

The driver's correctness gate can only hash-check what DuckDB can compute.
The binary clips pipeline is not SQL-expressible — but its per-clip outputs
ARE deterministic functions of the payload, computed by the same shared
helpers the golden labeler uses (functions/audio.py, functions/langid.py,
operators/vad.py, …). Persisting those outputs once per scale factor lets
DuckDB replay every downstream classification/aggregation exactly, which
upgrades the clips queries from the driver's weak rows-only check to the
full rows+schema+value-hash check. Same trust model as the committed golden
fixtures (tests/data/golden_labels.jsonl), and the same role as the
reference's ``*.expected.xml`` files (wallaby2caom2/tests/data/**) — an
independently-computed expected table.

Bit-compatibility is exact, not approximate: the pipeline's UDFs and this
builder call the same functions on the same bytes, so even raw doubles
(ppl, rms) hash identically (verified per field in tests/test_fixtures.py).

Generation parallelizes over part files with a process pool and is cached
through ``datagen.generate_once``, like the clips cache.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .datagen import generate_once

FIXTURE_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        # quality-filter result columns (oracle.label_row — the labeler)
        ("keep", pa.bool_()),
        ("drop_reason", pa.string()),
        ("scrubbed_transcript", pa.string()),
        ("scrub_edits", pa.int32()),
        ("lang", pa.string()),
        ("lang_conf", pa.float32()),
        ("ppl", pa.float64()),
        ("pcm_ok", pa.bool_()),
        ("sr_meas", pa.int32()),
        ("dur_ms_meas", pa.int32()),
        ("rms", pa.float64()),
        ("clip_rate", pa.float64()),
        ("dropout_ms", pa.float64()),
        # transcript length (speaking-rate gate input)
        ("n_chars", pa.int32()),
        # VAD stats (operators/vad.py helpers, UDF rounding applied)
        ("vad_ok", pa.bool_()),
        ("n_frames", pa.int32()),
        ("n_speech_frames", pa.int32()),
        ("speech_ratio", pa.float64()),
        ("n_speech_runs", pa.int32()),
        ("snr_db", pa.float64()),
        # content fingerprint (operators/audio_fp.py rule)
        ("fp_ok", pa.bool_()),
        ("fp", pa.int64()),
        # waveform preview (operators/preview.py)
        ("prev_ok", pa.bool_()),
        ("thumb_len", pa.int32()),
        ("thumb_name", pa.string()),
        # spectrogram preview (operators/preview.py with_spectrograms)
        ("sgram_ok", pa.bool_()),
        ("sgram_len", pa.int32()),
        ("sgram_name", pa.string()),
        # segmentation (operators/segment.py @ 250 ms / 16 kHz), classified
        # by the stats query's own boundary (seg_dur_ms == 250)
        ("segf_n", pa.int32()),
        ("segf_bytes", pa.int64()),
        ("segp_n", pa.int32()),
        ("segp_bytes", pa.int64()),
        # loudness normalization (operators/normalize.py defaults)
        ("norm_ok", pa.bool_()),
        ("norm_peak_limited", pa.bool_()),
        ("norm_len", pa.int32()),
        ("norm_gain_db", pa.float64()),
        ("norm_out_rms_dbfs", pa.float64()),
        # filterbank features (operators/features.py defaults)
        ("feat_ok", pa.bool_()),
        ("feat_n_frames", pa.int32()),
        ("feat_len", pa.int32()),
        ("feat_mle", pa.float64()),
        # endpoint trim (operators/trim.py defaults)
        ("trim_ok", pa.bool_()),
        ("trim_dur_in", pa.int32()),
        ("trim_dur_out", pa.int32()),
        # spectral shape (operators/spectral.py, per-clip UDF rounding)
        ("spec_ok", pa.bool_()),
        ("flatness", pa.float64()),
        ("centroid_hz", pa.float64()),
        ("peak_share", pa.float64()),
        # speed perturbation at the standard 0.9 / 1.0 / 1.1 factors
        ("aug_ok", pa.bool_()),
        ("sp09_dur", pa.int32()),
        ("sp09_len", pa.int32()),
        ("sp09_rms", pa.float64()),
        ("sp10_dur", pa.int32()),
        ("sp10_len", pa.int32()),
        ("sp10_rms", pa.float64()),
        ("sp11_dur", pa.int32()),
        ("sp11_len", pa.int32()),
        ("sp11_rms", pa.float64()),
        # noise mix @ 20 dB SNR
        ("mix_ok", pa.bool_()),
        ("mix_len", pa.int32()),
        ("mix_rms", pa.float64()),
        # canonical-rate conversion (operators/resample.py @ 16 kHz)
        ("rs_ok", pa.bool_()),
        ("rs_method", pa.string()),
        ("rs_len", pa.int32()),
        ("rs_dur_out", pa.int32()),
        ("rs_rms", pa.float64()),
        # SpecAugment masking (operators/specaugment.py defaults)
        ("sa_ok", pa.bool_()),
        ("sa_masked_cells", pa.int64()),
        ("sa_masked_frac", pa.float64()),
        ("sa_mean_after", pa.float64()),
        # semantic embedding (operators/embed.py — shared pool_embedding)
        ("emb_ok", pa.bool_()),
        ("emb", pa.list_(pa.float64())),
        # MFCC (operators/mfcc.py — shared clip_mfcc)
        ("mfcc_ok", pa.bool_()),
        ("mfcc_n_frames", pa.int32()),
        ("mfcc_len", pa.int32()),
        ("mfcc_c0", pa.float64()),
        ("mfcc_c1", pa.float64()),
        ("mfcc_c2", pa.float64()),
        # F0 tracker (operators/pitch.py — shared clip_pitch)
        ("pitch_ok", pa.bool_()),
        ("pitch_n_frames", pa.int32()),
        ("pitch_n_voiced", pa.int32()),
        ("pitch_voiced_ratio", pa.float64()),
        ("pitch_mean_f0", pa.float64()),
        # bandwidth gate (operators/bandwidth.py — shared clip_bandwidth)
        ("bw_ok", pa.bool_()),
        ("bw_rolloff95", pa.float64()),
        ("bw_rolloff99", pa.float64()),
        ("bw_ratio", pa.float64()),
        ("bw_suspect", pa.bool_()),
        # reverberation gate (operators/reverb.py — shared clip_reverb)
        ("rev_ok", pa.bool_()),
        ("rev_decay_db_s", pa.float64()),
        ("rev_rt60_ms", pa.float64()),
        ("rev_tail_ms", pa.float64()),
        # mains-hum gate (operators/hum.py — shared clip_hum)
        ("hum_ok", pa.bool_()),
        ("hum_hz", pa.int32()),
        ("hum_ratio", pa.float64()),
        ("hum_harmonics", pa.int32()),
        # gated program loudness (operators/loudness.py — shared clip_loudness)
        ("loud_ok", pa.bool_()),
        ("loud_lufs", pa.float64()),
        ("loud_peak_dbfs", pa.float64()),
        ("loud_blocks", pa.int32()),
        ("loud_gated", pa.int32()),
        ("loud_range_db", pa.float64()),
        # syllable-rate gate (operators/syllable.py — shared clip_syllable)
        ("syl_ok", pa.bool_()),
        ("syl_rate", pa.float64()),
        ("syl_share", pa.float64()),
        ("syl_dur_ms", pa.int32()),
        # transcript compressibility (operators/textcomp.py — shared
        # transcript_compression)
        ("z_ok", pa.bool_()),
        ("z_raw_len", pa.int32()),
        ("z_len", pa.int32()),
        ("z_ratio", pa.float64()),
        # waveform health (operators/health.py — shared clip_health)
        ("wh_ok", pa.bool_()),
        ("wh_dc", pa.float64()),
        ("wh_crest_db", pa.float64()),
        ("wh_peak", pa.float64()),
        # canonical transcode (operators/transcode.py — shared clip_transcode)
        ("tc_ok", pa.bool_()),
        ("tc_exact", pa.bool_()),
        ("tc_canon_len", pa.int32()),
        ("tc_size_ratio", pa.float64()),
        ("tc_crc32", pa.int64()),
        # spectral-flux onsets (operators/onset.py — shared clip_onset)
        ("on_ok", pa.bool_()),
        ("on_frames", pa.int32()),
        ("on_onsets", pa.int32()),
        ("on_rate", pa.float64()),
        ("on_flux_mean", pa.float64()),
        # declip repair (operators/declip.py — shared clip_declip)
        ("dcl_ok", pa.bool_()),
        ("dcl_runs", pa.int32()),
        ("dcl_samples", pa.int32()),
        ("dcl_frac", pa.float64()),
        ("dcl_energy_db", pa.float64()),
        ("dcl_peak", pa.float64()),
    ]
)


def _fixture_chunk(args: tuple[str, str]) -> str:
    """One clips part file → one fixture part file (process-pool unit)."""
    part, out_part = args
    from .functions import audio
    from .functions.preview import (
        SPEC_W,
        THUMB_W,
        spectrogram_thumbnail,
        waveform_thumbnail,
    )
    from .operators.vad import _clip_vad
    from .oracle import label_row

    t = pq.read_table(part)
    rows = t.to_pylist()
    cols: dict[str, list] = {f.name: [] for f in FIXTURE_SCHEMA}
    for row in rows:
        lab = label_row(row)
        for k, v in lab.items():
            if k in cols:
                cols[k].append(v)
        transcript = row["transcript"]
        cols["n_chars"].append(len(transcript) if transcript is not None else 0)

        raw, codec = row["bytes"], row["codec"]
        sr_d = audio.declared_sr(row["sr_hz"])
        # VAD (operators/vad.py containment rule + UDF rounding)
        x16, sr_meas_i = audio.decode_clip_i16(raw, codec)
        sr_i = (sr_meas_i or sr_d) if x16 is not None else 0
        if x16 is not None and len(x16) > 0 and sr_i > 0:
            vad_ok = True
            nf, nsp, runs, snr = _clip_vad(x16, sr_i, 20, 10, 10.0)
        else:
            vad_ok, nf, nsp, runs, snr = False, 0, 0, 0, 0.0
        ratio = (nsp / nf) if nf > 0 else 0.0
        cols["vad_ok"].append(vad_ok)
        cols["n_frames"].append(int(nf))
        cols["n_speech_frames"].append(int(nsp))
        cols["speech_ratio"].append(float(np.round(ratio + 1e-12, 6)))
        cols["n_speech_runs"].append(int(runs))
        cols["snr_db"].append(float(np.round(snr + 1e-9, 3)))

        # fingerprint (operators/audio_fp.py fingerprint_udf rule: measured
        # rate wins; rateless clips are gated)
        samples, sr_meas_f = audio.decode_clip(raw, codec)
        sr_f = sr_meas_f or sr_d
        if sr_f <= 0:
            fp_ok, fp = False, 0
        else:
            fp_ok, fp = audio.band_fingerprint(samples, sr_f)
        cols["fp_ok"].append(bool(fp_ok))
        cols["fp"].append(int(fp))

        # waveform preview (operators/preview.py)
        png = waveform_thumbnail(samples)
        cols["prev_ok"].append(png is not None)
        cols["thumb_len"].append(len(png) if png is not None else 0)
        cols["thumb_name"].append(f"{row['clip_id']}_prev_{THUMB_W}.png")

        # spectrogram preview (operators/preview.py with_spectrograms)
        sg = spectrogram_thumbnail(samples)
        cols["sgram_ok"].append(sg is not None)
        cols["sgram_len"].append(len(sg) if sg is not None else 0)
        cols["sgram_name"].append(f"{row['clip_id']}_spec_{SPEC_W}.png")

        _per_clip_operator_outputs(cols, samples, sr_f, x16, sr_i, row)

    arrays = [
        pa.array(cols[f.name], f.type) for f in FIXTURE_SCHEMA
    ]
    pq.write_table(
        pa.table(dict(zip(FIXTURE_SCHEMA.names, arrays))), out_part
    )
    return out_part


_SEG_COLS = (
    "segf_n", "segf_bytes", "segp_n", "segp_bytes",
    "norm_ok", "norm_peak_limited", "norm_len", "norm_gain_db",
    "norm_out_rms_dbfs",
    "feat_ok", "feat_n_frames", "feat_len", "feat_mle",
    "trim_ok", "trim_dur_in", "trim_dur_out",
    "spec_ok", "flatness", "centroid_hz", "peak_share",
    "aug_ok", "sp09_dur", "sp09_len", "sp09_rms",
    "sp10_dur", "sp10_len", "sp10_rms", "sp11_dur", "sp11_len", "sp11_rms",
    "mix_ok", "mix_len", "mix_rms",
    "rs_ok", "rs_method", "rs_len", "rs_dur_out", "rs_rms",
    "sa_ok", "sa_masked_cells", "sa_masked_frac", "sa_mean_after",
    "emb_ok", "emb",
    "mfcc_ok", "mfcc_n_frames", "mfcc_len", "mfcc_c0", "mfcc_c1", "mfcc_c2",
    "pitch_ok", "pitch_n_frames", "pitch_n_voiced", "pitch_voiced_ratio",
    "pitch_mean_f0",
    "bw_ok", "bw_rolloff95", "bw_rolloff99", "bw_ratio", "bw_suspect",
    "rev_ok", "rev_decay_db_s", "rev_rt60_ms", "rev_tail_ms",
    "hum_ok", "hum_hz", "hum_ratio", "hum_harmonics",
    "loud_ok", "loud_lufs", "loud_peak_dbfs", "loud_blocks", "loud_gated",
    "loud_range_db",
    "syl_ok", "syl_rate", "syl_share", "syl_dur_ms",
    "z_ok", "z_raw_len", "z_len", "z_ratio",
    "wh_ok", "wh_dc", "wh_crest_db", "wh_peak",
    "tc_ok", "tc_exact", "tc_canon_len", "tc_size_ratio", "tc_crc32",
    "on_ok", "on_frames", "on_onsets", "on_rate", "on_flux_mean",
    "dcl_ok", "dcl_runs", "dcl_samples", "dcl_frac", "dcl_energy_db",
    "dcl_peak",
)


def _per_clip_operator_outputs(cols, samples, sr_f, x16, sr_i, row) -> None:
    """Replay the payload operators (segment / normalize / features / trim /
    spectral / augment / noise-mix) for ONE clip — exact per-clip math of
    each operator's UDF body (defaults pinned), equality asserted against
    the live operators in tests/test_fixtures.py."""
    from .functions import audio
    from .operators.augment import _clip_seed
    from .operators.features import _band_matrix, _frame_matrix
    from .operators.embed import pool_embedding
    from .operators.resample import resample_clip
    from .operators.spectral import _clip_spectrum
    from .operators.specaugment import specaugment_clip
    from .operators.trim import _speech_span

    out = {k: 0 for k in _SEG_COLS}
    out.update(
        norm_ok=False, norm_peak_limited=False,
        norm_gain_db=0.0, norm_out_rms_dbfs=-120.0,
        feat_ok=False, feat_mle=0.0,
        trim_ok=False, spec_ok=False,
        flatness=0.0, centroid_hz=0.0, peak_share=0.0,
        aug_ok=False, sp09_rms=0.0, sp10_rms=0.0, sp11_rms=0.0,
        mix_ok=False, mix_rms=0.0,
        rs_ok=False, rs_method="undecodable", rs_rms=0.0,
        sa_ok=False, sa_masked_frac=0.0, sa_mean_after=0.0,
        emb_ok=False, emb=[0.0] * 24,  # zero vector, never NULL (embed.py contract)
        mfcc_ok=False, mfcc_c0=0.0, mfcc_c1=0.0, mfcc_c2=0.0,
        pitch_ok=False, pitch_voiced_ratio=0.0, pitch_mean_f0=0.0,
        bw_ok=False, bw_rolloff95=0.0, bw_rolloff99=0.0, bw_ratio=0.0,
        bw_suspect=False,
        rev_ok=False, rev_decay_db_s=0.0, rev_rt60_ms=0.0, rev_tail_ms=0.0,
        hum_ok=False, hum_ratio=0.0,
        loud_ok=False, loud_lufs=-120.0, loud_peak_dbfs=-120.0,
        loud_range_db=0.0,
        syl_ok=False, syl_rate=0.0, syl_share=0.0,
        z_ok=False, z_ratio=0.0,
        wh_ok=False, wh_dc=0.0, wh_crest_db=0.0, wh_peak=0.0,
        tc_ok=False, tc_exact=False, tc_size_ratio=0.0,
        on_ok=False, on_rate=0.0, on_flux_mean=0.0,
        dcl_ok=False, dcl_frac=0.0, dcl_energy_db=0.0, dcl_peak=0.0,
    )
    # --- transcript compressibility (shared function, textcomp.py) ---
    from .operators.textcomp import transcript_compression

    zres = transcript_compression(row["transcript"])
    if zres is not None:
        out.update(z_ok=True, z_raw_len=zres[0], z_len=zres[1], z_ratio=zres[2])

    # --- waveform health (shared function, health.py) — rate-independent:
    # replayed OUTSIDE the decodable gate exactly like the operator, which
    # computes on whatever samples decode_clip returns even when the rate
    # is unknown (rateless raw PCM) ---
    from .operators.health import clip_health

    hlt = clip_health(samples)
    if hlt is not None:
        out.update(wh_ok=True, wh_dc=hlt[0], wh_crest_db=hlt[1], wh_peak=hlt[2])

    # --- canonical transcode (shared function, transcode.py — owns its own
    # decode, straight from the source payload) ---
    from .operators.transcode import clip_transcode

    tres = clip_transcode(row["bytes"], row["codec"], row["sr_hz"])
    if tres is not None:
        out.update(
            tc_ok=True,
            tc_exact=tres[0],
            tc_canon_len=tres[1],
            tc_size_ratio=tres[2],
            tc_crc32=tres[3],
        )
    decodable = samples is not None and len(samples) > 0 and sr_f > 0
    if decodable:
        # --- segmentation (window_ms=250, sr_out=16000, keep_partial) ---
        win_samples = 4000  # round(250 * 16000 / 1000)
        s16k = audio.resample_linear(samples, sr_f, 16000)
        n_full, tail = divmod(len(s16k), win_samples)
        segf_n = n_full
        segf_bytes = n_full * win_samples * 2
        segp_n = segp_bytes = 0
        if tail:
            dur = int(round(tail * 1000.0 / 16000))
            if dur == 250:  # partial that ROUNDS to the full-window class
                segf_n += 1
                segf_bytes += tail * 2
            else:
                segp_n, segp_bytes = 1, tail * 2
        out.update(
            segf_n=segf_n, segf_bytes=segf_bytes,
            segp_n=segp_n, segp_bytes=segp_bytes,
        )

        # --- normalization (target -20 dBFS, ceiling -1 dBFS) ---
        rms = float(np.sqrt(np.mean(np.square(samples, dtype=np.float64))))
        peak = float(np.max(np.abs(samples)))
        if rms >= 1e-5 and peak > 0.0:
            target_rms = 10.0 ** (-20.0 / 20.0)
            peak_ceiling = 10.0 ** (-1.0 / 20.0)
            gain = target_rms / rms
            limited = gain * peak > peak_ceiling
            if limited:
                gain = peak_ceiling / peak
            scaled = np.clip(
                samples.astype(np.float64) * gain, -1.0, 1.0
            ).astype(np.float32)
            out_rms = float(
                np.sqrt(np.mean(np.square(scaled, dtype=np.float64)))
            )

            def dbfs(x: float) -> float:
                return 20.0 * float(np.log10(max(x, 1e-12)))

            out.update(
                norm_ok=True,
                norm_peak_limited=bool(limited),
                norm_len=len(scaled) * 2,
                norm_gain_db=dbfs(gain),
                norm_out_rms_dbfs=dbfs(out_rms),
            )

        # --- filterbank features (25 ms / 10 ms / 12 bands / 16 kHz) ---
        win, hop, n_bands = 400, 160, 12
        hann = np.hanning(win).astype(np.float64)
        bands = _band_matrix(win // 2 + 1, n_bands)
        xf = s16k.astype(np.float64)
        frames = _frame_matrix(xf, win, hop)
        if len(frames):
            spec = np.fft.rfft(frames * hann, axis=1)
            power = spec.real**2 + spec.imag**2
            feats = np.log10(power @ bands + 1e-10).astype(np.float32)
            out.update(
                feat_ok=True,
                feat_n_frames=int(feats.shape[0]),
                feat_len=int(feats.shape[0]) * n_bands * 4,
                feat_mle=float(feats.mean()),
            )

            # --- SpecAugment (same feats matrix, shared mask sampler) ---
            masked, n_cells = specaugment_clip(feats, str(row["clip_id"]))
            out.update(
                sa_ok=True,
                sa_masked_cells=int(n_cells),
                sa_masked_frac=n_cells / feats.size,
                sa_mean_after=float(masked.mean()),
            )

            # --- semantic embedding (same feats matrix, shared pooler) ---
            out.update(
                emb_ok=True, emb=pool_embedding(feats).tolist()
            )

        # --- MFCC (shared per-clip function verbatim, operators/mfcc.py) ---
        from .operators.mfcc import N_MFCC, clip_mfcc

        coef = clip_mfcc(samples, sr_f)
        if coef is not None:
            means = coef.mean(axis=0, dtype=np.float64)
            out.update(
                mfcc_ok=True,
                mfcc_n_frames=int(coef.shape[0]),
                mfcc_len=int(coef.shape[0]) * N_MFCC * 4,
                mfcc_c0=float(means[0]),
                mfcc_c1=float(means[1]),
                mfcc_c2=float(means[2]),
            )

        # --- F0 tracker (shared per-clip function verbatim, pitch.py) ---
        from .operators.pitch import clip_pitch

        pres = clip_pitch(samples, sr_f)
        if pres is not None:
            out.update(
                pitch_ok=True,
                pitch_n_frames=pres[0],
                pitch_n_voiced=pres[1],
                pitch_voiced_ratio=pres[2],
                pitch_mean_f0=pres[3],
            )

        # --- spectral-flux onsets (shared function verbatim, onset.py) ---
        from .operators.onset import clip_onset

        ores = clip_onset(samples, sr_f)
        if ores is not None:
            out.update(
                on_ok=True,
                on_frames=ores[0],
                on_onsets=ores[1],
                on_rate=ores[2],
                on_flux_mean=ores[3],
            )

        # --- declip repair (shared function verbatim, declip.py) ---
        from .operators.declip import clip_declip

        dres = clip_declip(x16, sr_i)
        if dres is not None:
            out.update(
                dcl_ok=True,
                dcl_runs=dres[0],
                dcl_samples=dres[1],
                dcl_frac=dres[2],
                dcl_energy_db=dres[3],
                dcl_peak=dres[4],
            )

        # --- bandwidth gate (shared per-clip function, bandwidth.py) ---
        from .operators.bandwidth import clip_bandwidth

        bres = clip_bandwidth(samples, sr_f)
        if bres is not None:
            out.update(
                bw_ok=True,
                bw_rolloff95=bres[0],
                bw_rolloff99=bres[1],
                bw_ratio=bres[2],
                bw_suspect=bres[3],
            )

        # --- reverberation gate (shared per-clip function, reverb.py) ---
        from .operators.reverb import clip_reverb

        rres = clip_reverb(samples, sr_f)
        if rres is not None:
            out.update(
                rev_ok=True,
                rev_decay_db_s=rres[0],
                rev_rt60_ms=rres[1],
                rev_tail_ms=rres[2],
            )

        # --- mains-hum gate (shared per-clip function, hum.py) ---
        from .operators.hum import clip_hum

        hres = clip_hum(samples, sr_f)
        if hres is not None:
            out.update(
                hum_ok=True,
                hum_hz=hres[0],
                hum_ratio=hres[1],
                hum_harmonics=hres[2],
            )

        # --- gated program loudness (shared per-clip function, loudness.py) ---
        from .operators.loudness import clip_loudness

        lres = clip_loudness(samples, sr_f)
        if lres is not None:
            out.update(
                loud_ok=True,
                loud_lufs=lres[0],
                loud_peak_dbfs=lres[1],
                loud_blocks=lres[2],
                loud_gated=lres[3],
                loud_range_db=lres[4],
            )

        # --- syllable-rate gate (shared per-clip function, syllable.py) ---
        from .operators.syllable import clip_syllable

        sres = clip_syllable(samples, sr_f)
        if sres is not None:
            out.update(
                syl_ok=True,
                syl_rate=sres[0],
                syl_share=sres[1],
                syl_dur_ms=sres[2],
            )

        # --- spectral shape (per-clip UDF rounding of spectral_stats) ---
        res = _clip_spectrum(samples, sr_f)
        if res is not None:
            out.update(
                spec_ok=True,
                flatness=float(np.round(res[0] + 1e-12, 6)),
                centroid_hz=float(np.round(res[1] + 1e-9, 2)),
                peak_share=float(np.round(res[2] + 1e-12, 6)),
            )

        # --- speed perturbation (0.9 / 1.0 / 1.1) ---
        out["aug_ok"] = True
        for f, pre in ((0.9, "sp09"), (1.0, "sp10"), (1.1, "sp11")):
            y = (
                samples
                if f == 1.0
                else audio.resample_linear(samples, int(round(sr_f * f)), sr_f)
            )
            if len(y) == 0:
                continue
            out[f"{pre}_dur"] = int(round(len(y) * 1000.0 / sr_f))
            out[f"{pre}_len"] = 44 + 2 * len(y)  # encode_wav container size
            out[f"{pre}_rms"] = float(
                np.sqrt(np.mean(np.square(y, dtype=np.float64)))
            )

        # --- noise mix @ 20 dB SNR (content-seeded) ---
        ok = rms > 0.0
        if ok:
            rng = np.random.default_rng(_clip_seed(str(row["clip_id"])))
            noise_rms = rms / (10.0 ** (20.0 / 20.0))
            y = np.clip(
                samples
                + (noise_rms * rng.standard_normal(len(samples))).astype(
                    np.float32
                ),
                -1.0,
                1.0,
            )
        else:
            y = samples
        out.update(
            mix_ok=ok,
            mix_len=44 + 2 * len(y),
            mix_rms=float(np.sqrt(np.mean(np.square(y, dtype=np.float64)))),
        )

    # --- canonical-rate resample (shared per-clip function verbatim) ---
    rs = resample_clip(row["bytes"], row["codec"], row["sr_hz"])
    out.update(
        rs_ok=rs["rs_ok"],
        rs_method=rs["rs_method"],
        rs_len=len(rs["rs_bytes"]) if rs["rs_bytes"] is not None else 0,
        rs_dur_out=rs["dur_ms_out"],
        rs_rms=rs["rs_rms"],
    )

    # --- trim (int16 path; dur_ms_in is set even when no speech found) ---
    if x16 is not None and len(x16) > 0 and sr_i > 0:
        out["trim_dur_in"] = int(round(len(x16) * 1000.0 / sr_i))
        span = _speech_span(x16, sr_i, 20, 10, 10.0)
        if span is not None:
            pad = int(round(sr_i * 100 / 1000.0))
            a = max(0, span[0] - pad)
            b = min(len(x16), span[1] + pad)
            out["trim_ok"] = True
            out["trim_dur_out"] = int(round((b - a) * 1000.0 / sr_i))

    for k in _SEG_COLS:
        cols[k].append(out[k])


def build_features_fixture(
    clips_path: str, out_path: str, workers: int = 8
) -> str:
    """Generate the fixture table for every part file of ``clips_path``
    into ``out_path`` once (``datagen.generate_once``)."""

    def write(tmp: str) -> None:
        parts = sorted(glob.glob(os.path.join(clips_path, "*.parquet")))
        jobs = [
            (part, os.path.join(tmp, f"part-{i:05d}.parquet"))
            for i, part in enumerate(parts)
        ]
        if workers > 1 and len(jobs) > 1:
            from concurrent.futures import ProcessPoolExecutor

            with ProcessPoolExecutor(max_workers=workers) as pool:
                list(pool.map(_fixture_chunk, jobs))
        else:
            for job in jobs:
                _fixture_chunk(job)

    return generate_once(out_path, write)
