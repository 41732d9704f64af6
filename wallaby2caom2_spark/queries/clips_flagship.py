"""Flagship clips quality-filter queries (UDF stages → fixture-replay oracles).

The clips table does not exist in /root/testdata, so per the north rule it is
synthesised deterministically (datagen.py, seed 42) into a per-sf cache under
/tmp — same seed → byte-identical parquet, mirroring how the reference
commits golden fixtures (``wallaby2caom2/tests/data/**``).

Oracle strategy: the pandas-UDF stages (PCM decode, langid, perplexity,
scrub) are not ANSI-SQL-expressible, but their per-clip outputs ARE
deterministic — so they are persisted once per sf by the pure-Python
oracle-replay fixture (fixtures.py, same shared helpers as the golden
labeler) and DuckDB replays every downstream classification/aggregation
under the full rows+schema+value-hash check (the ``*_oracle`` functions
below, wired in __spark_entry__.oracle_sql). Since round 3 EVERY query in
this module carries such an oracle — none is rows-only — and each keeps a
dedicated golden pytest besides (docs/QUERIES.json maps query → backing
test + oracle kind).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import (
    audio_fp,
    augment,
    bandwidth,
    features,
    hum,
    loudness,
    mfcc,
    multimodal,
    normalize,
    pitch,
    preview,
    reverb,
    health,
    segment,
    spectral,
    syllable,
    textcomp,
    transcode,
    vad,
    video,
)
from ..operators.graph import min_label_components
from ..plans.pipeline import kept_clips, quality_filter, run_metrics
from ..sources import clips as clips_src

_CACHE_ROOT = "/tmp/wallaby_clips_cache"
_GEN_VERSION = "v4"  # v4: planted digital dropouts (audio_dropout rule); v3: speech-like burst envelope (VAD dynamics); v2: 1250 rows/file → ~60MB files

# clips per scale-factor directory name (sf0.001 / sf0.01 / sf0.1);
# sf0.1 is sized so fixed overheads (~2s) don't dominate the clips/sec metric
_N_BY_SF = {"sf0.001": 2000, "sf0.01": 5000, "sf0.1": 100000}


def clips_path_for(sf_dir: str) -> str:
    """Deterministic per-sf clips parquet, generated once and cached
    (``datagen.generate_once``: two concurrent callers, e.g. bench + oracle
    gate, never interleave a scan with a half-written part file)."""
    name = os.path.basename(os.path.normpath(sf_dir)) or "default"
    n = _N_BY_SF.get(name, 2000)
    return datagen.generate_once(
        os.path.join(_CACHE_ROOT, f"{name}-{_GEN_VERSION}-n{n}"),
        lambda tmp: datagen.write_clips_parquet(
            tmp, n, seed=42, rows_per_file=1250
        ),
    )


def load_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clips_src.read_clips(spark, clips_path_for(sf_dir))


_MEDIA_N = 200  # branch-coverage side table — fixed size at every sf
# v5: four closed-form PNG sub-rules plant one row per image-quality class;
# v4: roll 5 is a FULL baseline entropy-coded grayscale JPEG;
# v3: RGB + per-row filters 0-4 + truncated-IDAT rows (full pixel decode);
# v2: real JPEG headers (SOF0 geometry + corrupt row)
_MEDIA_VERSION = "v5"


def media_path_for(sf_dir: str) -> str:
    """Deterministic image-mix side table (real PNGs, real JPEG headers in
    two marker layouts plus a corrupt one, raw and empty payloads —
    datagen.generate_media_rows) cached next to the clips cache through
    ``datagen.generate_once``."""
    name = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return datagen.generate_once(
        os.path.join(_CACHE_ROOT, f"{name}-media-{_MEDIA_VERSION}-n{_MEDIA_N}"),
        lambda tmp: datagen.write_media_parquet(tmp, _MEDIA_N, seed=42),
    )


_VIDEO_N = 200  # branch-coverage side table, like the image mix
_VIDEO_VERSION = "v1"  # v1: RVID raw container, closed-form frame pixels


def video_path_for(sf_dir: str) -> str:
    """Deterministic raw-video side table (datagen.generate_video_rows —
    'RVID' containers with closed-form frame pixels plus truncated /
    zero-geometry / empty branches) cached next to the clips cache through
    ``datagen.generate_once``."""
    name = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return datagen.generate_once(
        os.path.join(_CACHE_ROOT, f"{name}-video-{_VIDEO_VERSION}-n{_VIDEO_N}"),
        lambda tmp: datagen.write_video_parquet(tmp, _VIDEO_N, seed=42),
    )


_FEATURES_VERSION = "v16"  # v16: + declip-repair replay columns (dcl_*, shared clip_declip); v15: + spectral-flux onset replay columns (on_*, shared clip_onset); v14: + waveform-health (wh_*, shared clip_health) and canonical-transcode (tc_*, shared clip_transcode) replay columns; v13: + syllable-rate (syl_*, shared clip_syllable) and transcript-compressibility (z_*, shared transcript_compression) replay columns; v12: + gated-loudness replay columns (loud_*, shared clip_loudness); v11: + reverb-gate (rev_*, shared clip_reverb) and mains-hum (hum_*, shared clip_hum) replay columns; v10: + bandwidth-gate replay columns (bw_ok/rolloff95/rolloff99/ratio/suspect, shared clip_bandwidth); v9: + F0-tracker replay columns (pitch_ok/n_frames/n_voiced/voiced_ratio/mean_f0, shared clip_pitch); v8: + MFCC replay columns (mfcc_ok/n_frames/len/c0-c2, shared clip_mfcc); v7b: semantic-embedding replay columns (emb_ok, emb; zero-vector containment); v6: + resample/specaugment replay columns; v5: + spectrogram-preview columns; v4: + segment/normalize/features/trim/spectral/augment replay columns; v3: pow2-padded fingerprint FFT; v2: + labeler columns, n_chars, fingerprint, preview


def features_path_for(sf_dir: str) -> str:
    """Per-clip oracle-replay fixture (fixtures.py): quality-filter labels,
    VAD stats, content fingerprint, preview geometry — every deterministic
    per-clip output of the pipeline, computed in PURE PYTHON from the
    cached clips parquet so DuckDB can replay the clips queries under the
    full rows+schema+value-hash check. Bit-compatibility with the UDFs is
    pinned in tests/test_fixtures.py."""
    from ..fixtures import build_features_fixture

    clips_path = clips_path_for(sf_dir)
    name = os.path.basename(os.path.normpath(sf_dir)) or "default"
    n = _N_BY_SF.get(name, 2000)
    path = os.path.join(
        _CACHE_ROOT, f"{name}-features-{_FEATURES_VERSION}-n{n}"
    )
    return build_features_fixture(clips_path, path)


def _kept_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clips that survive the quality filter, with their payloads — the
    single definition of "kept" every downstream stat query shares.
    Zero-Exchange narrow recompute (plans/pipeline.py ``kept_clips``): one
    scan, keep decided in place, no payload ever enters a shuffle — the
    round-2 semi-join form read the corpus twice and would have shuffled
    the payload column once the kept set outgrew a broadcast."""
    return kept_clips(load_clips(spark, sf_dir))


def clips_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline: decode → langid/ppl → cascade → scrub."""
    return quality_filter(load_clips(spark, sf_dir))


def clips_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule counters over the pipeline output (A5 analog)."""
    return run_metrics(quality_filter(load_clips(spark, sf_dir)))


def clips_quality_filter_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship through the DECLARATIVE entry path: cascade + scrub
    mask expressed as ``spark.sql`` over a temp view of the fused-feature
    stage (plans/sql_api.py). Same rows, same single-Exchange
    single-Arrow-crossing plan as the DataFrame path (pinned by
    tests/test_sql_api.py); shares the DataFrame flagship's oracle."""
    from ..plans import sql_api

    return sql_api.quality_filter_sql(spark, load_clips(spark, sf_dir))


def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction over the clips payloads UNIONED
    with the image-mix side table — real PNG IHDR geometry, real JPEG SOF
    geometry, audio frame-sample plan, all oracle-checked."""
    clips = load_clips(spark, sf_dir).select("clip_id", "bytes")
    media = spark.read.parquet(media_path_for(sf_dir))
    return multimodal.media_kind_summary(clips.unionByName(media)).orderBy(
        F.col("kind")
    )


def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode over the image-mix side table: zlib inflate +
    all-five-filters scanline reconstruction (functions/png.py) inside an
    Arrow-batched mapInPandas worker, emitting exact integer pixel stats
    per image (operators/multimodal.py ``png_pixel_stats``)."""
    media = spark.read.parquet(media_path_for(sf_dir))
    return multimodal.png_pixel_stats(media).orderBy("clip_id")


def _png_value_case(k: str) -> str:
    """The SQL re-expression of ``datagen.png_pixel_values`` (default rule
    plus the four per-index quality-class sub-rules) as a scalar CASE over
    columns ``idx``/``mult`` and the flat pixel index expression ``k`` —
    ONE copy shared by the full-image and resized-subsample oracles so the
    generative rule cannot drift between them."""
    return f"""CASE
        WHEN idx % 25 = 20 THEN (idx * 7) % 251
        WHEN idx % 25 = 21 THEN (idx * 5) % 200 + (({k}) % 8) * 4
        WHEN idx % 25 = 22 THEN CASE WHEN ({k}) % 127 = 0 THEN 255 ELSE 0 END
        WHEN idx % 25 = 23 THEN CASE WHEN ({k}) % 127 = 0 THEN 0 ELSE 255 END
        ELSE (({k}) * mult) % 251
      END"""


def _png_header_sql(media: str) -> str:
    """The per-PNG header CTE (geometry from IHDR hex, decodability from
    the IEND trailer) shared by every PNG analytic oracle."""
    return f"""
  SELECT clip_id,
    CAST(substr(clip_id, 7) AS BIGINT) AS idx,
    CAST(substr(clip_id, 7) AS BIGINT) + 3 AS mult,
    -- geometry is a header fact only when the full IHDR is present
    -- (>= 26 bytes); a signature-only stub yields 0/0/0, like the worker
    CASE WHEN octet_length(bytes) >= 26
         THEN coalesce(TRY_CAST(
           '0x' || substr(hex(bytes), 33, 8) AS BIGINT), 0)
         ELSE 0 END AS width,
    CASE WHEN octet_length(bytes) >= 26
         THEN coalesce(TRY_CAST(
           '0x' || substr(hex(bytes), 41, 8) AS BIGINT), 0)
         ELSE 0 END AS height,
    CASE WHEN octet_length(bytes) < 26 THEN 0
         WHEN substr(hex(bytes), 51, 2) = '00' THEN 1
         WHEN substr(hex(bytes), 51, 2) = '02' THEN 3
         WHEN substr(hex(bytes), 51, 2) = '06' THEN 4
         ELSE 0 END AS channels,
    right(hex(bytes), 16) = '49454E44AE426082' AS decode_ok
  FROM read_parquet('{media}/*.parquet')
  WHERE left(hex(bytes), 8) = '89504E47'
"""


def _png_pixel_rows_sql(media: str) -> str:
    """Per-PNG-row analytic pixel stats (no px_mean, no ORDER BY) — shared
    by ``png_pixel_oracle`` and ``image_quality_oracle``. The value CASE
    is the SQL re-expression of ``datagen.png_pixel_values`` (default rule
    plus the four per-index quality-class sub-rules)."""
    return f"""
WITH p AS ({_png_header_sql(media)}),
agg AS (
  SELECT clip_id,
    count(*)::BIGINT AS n_vals,
    sum(v)::BIGINT AS px_sum,
    min(v)::INT AS px_min,
    max(v)::INT AS px_max
  FROM (
    SELECT clip_id, {_png_value_case("k")} AS v
    FROM (SELECT clip_id, idx, mult,
                 unnest(range(0, width * height * channels)) AS k
          FROM p WHERE decode_ok)
  )
  GROUP BY clip_id
)
SELECT p.clip_id, p.decode_ok,
       p.width::INT AS width, p.height::INT AS height,
       p.channels::INT AS channels,
       agg.n_vals, agg.px_sum, agg.px_min, agg.px_max
FROM p LEFT JOIN agg USING (clip_id)
"""


def png_pixel_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_pixel_stats`` — ANALYTIC, not a
    replay: DuckDB cannot inflate zlib, but the fixture's pixels follow a
    closed-form rule (``datagen.png_pixel_values``), so the oracle
    recomputes every statistic from the generative formula over
    ``unnest(range(w*h*ch))``, taking geometry and color type from the
    IHDR hex and decodability from the presence of the constant IEND+CRC
    trailer (a truncated stream lacks it). The ONLY way the Spark side
    matches is by genuinely inflating and unfiltering the scanlines — the
    fixture varies the row filter over all five spec values, so skipping
    unfiltering changes px_sum/min/max."""
    rows = _png_pixel_rows_sql(media_path_for(sf_dir))
    return f"""
SELECT *, round(px_sum / n_vals + 1e-9, 6) AS px_mean
FROM ({rows})
ORDER BY clip_id
"""


def multimodal_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG entropy decode over the image-mix side table: baseline
    huffman + dequant + IDCT (functions/jpeg.py) inside an Arrow-batched
    mapInPandas worker (operators/multimodal.py ``jpeg_pixel_stats``).
    Header-only and corrupt streams are contained as decode_ok=false."""
    media = spark.read.parquet(media_path_for(sf_dir))
    return multimodal.jpeg_pixel_stats(media).orderBy("clip_id")


def _jpeg_pixel_rows_sql(media: str) -> str:
    """Per-JPEG-row analytic pixel stats (no px_mean, no ORDER BY) —
    shared by ``jpeg_pixel_oracle`` and ``image_quality_oracle``."""
    return f"""
WITH j AS (
  SELECT clip_id,
    CAST(substr(clip_id, 7) AS BIGINT) + 3 AS mult,
    hex(bytes) AS hx,
    substr(hex(bytes), 5, 4) AS m1,
    5 + TRY_CAST('0x' || substr(hex(bytes), 9, 4) AS BIGINT) AS p2,
    substr(hex(bytes), 2 * p2 - 1, 4) AS m2,
    p2 + 2 + TRY_CAST(
      '0x' || substr(hex(bytes), 2 * (p2 + 2) - 1, 4) AS BIGINT) AS p3,
    CASE WHEN m1 <> 'FFE0' THEN NULL
         WHEN m2 = 'FFC0' THEN p2
         WHEN m2 = 'FFFE'
              AND substr(hex(bytes), 2 * p3 - 1, 4) = 'FFC0' THEN p3
         ELSE NULL END AS sof
  FROM read_parquet('{media}/*.parquet')
  WHERE left(hex(bytes), 6) = 'FFD8FF'
),
g AS (
  SELECT clip_id, mult, sof, hx,
    TRY_CAST('0x' || substr(hx, 2 * (sof + 5) - 1, 4) AS BIGINT) AS jh,
    TRY_CAST('0x' || substr(hx, 2 * (sof + 7) - 1, 4) AS BIGINT) AS jw,
    TRY_CAST('0x' || substr(hx, 2 * (sof + 9) - 1, 2) AS BIGINT) AS ncomp,
    sof + 2 + TRY_CAST(
      '0x' || substr(hx, 2 * (sof + 2) - 1, 4) AS BIGINT) AS nxt
  FROM j
),
d AS (
  -- the Python walker needs the FULL fixed SOF prefix (through ncomp);
  -- a stream truncated inside it yields no geometry at all
  SELECT clip_id, mult,
    CASE WHEN ncomp IS NOT NULL THEN coalesce(jw, 0) ELSE 0 END AS width,
    CASE WHEN ncomp IS NOT NULL THEN coalesce(jh, 0) ELSE 0 END AS height,
    coalesce(ncomp, 0) AS channels,
    coalesce(sof IS NOT NULL AND ncomp IS NOT NULL
             AND substr(hx, 2 * nxt - 1, 4) = 'FFDB', FALSE) AS decode_ok
  FROM g
),
agg AS (
  SELECT clip_id,
    (width * height)::BIGINT AS n_vals,
    (64 * sum(v))::BIGINT AS px_sum,
    min(v)::INT AS px_min,
    max(v)::INT AS px_max
  FROM (
    SELECT clip_id, width, height, (b * mult) % 251 AS v
    FROM (SELECT clip_id, mult, width, height,
                 unnest(range(0, (width // 8) * (height // 8))) AS b
          FROM d WHERE decode_ok)
  )
  GROUP BY clip_id, width, height
)
SELECT d.clip_id, d.decode_ok,
       d.width::INT AS width, d.height::INT AS height,
       d.channels::INT AS channels,
       agg.n_vals, agg.px_sum, agg.px_min, agg.px_max
FROM d LEFT JOIN agg USING (clip_id)
"""


def jpeg_pixel_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_jpeg_pixels`` — analytic, like
    ``png_pixel_oracle``: the fixture's full JPEGs are constant per 8x8
    block under a closed-form rule (block b = ``(b * (i + 3)) % 251``) and
    encoded at flat quant, where the baseline DCT round trip is exact, so
    DuckDB recomputes the decoded-pixel statistics from the rule at block
    granularity without being able to huffman-decode. Geometry replays the
    SOF marker walk (same computed-offset hex chain as the media-meta
    oracle); decodability is structural — a real scan requires quantization
    tables, so the marker right after the SOF0 segment must be DQT, which
    a header-only stream (arbitrary filler there) and a corrupt chain
    (no SOF at all) both fail."""
    rows = _jpeg_pixel_rows_sql(media_path_for(sf_dir))
    return f"""
SELECT *, round(px_sum / n_vals + 1e-9, 6) AS px_mean
FROM ({rows})
ORDER BY clip_id
"""


def multimodal_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-modality quality gate: decoded-pixel stats (REAL PNG +
    JPEG decode) → first-match-wins class cascade in codegen → per
    (kind, class) rollup (operators/multimodal.py
    ``image_quality_summary``). The fixture plants one row per class
    (constant / low_contrast / dark / bright sub-rules in
    ``datagen.png_pixel_values``) so every rule arm is oracle-checked."""
    media = spark.read.parquet(media_path_for(sf_dir))
    return multimodal.image_quality_summary(media)


def image_quality_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_image_quality``: the same analytic
    per-row stats as the two pixel oracles, unioned, classified by the
    same first-match-wins CASE the codegen cascade runs, rolled up."""
    media = media_path_for(sf_dir)
    png_rows = _png_pixel_rows_sql(media)
    jpeg_rows = _jpeg_pixel_rows_sql(media)
    return f"""
WITH all_rows AS (
  SELECT 'png' AS kind, * FROM ({png_rows})
  UNION ALL
  SELECT 'jpeg' AS kind, * FROM ({jpeg_rows})
),
cls AS (
  SELECT kind,
    CASE
      WHEN NOT decode_ok THEN 'undecodable'
      WHEN px_max - px_min = 0 THEN 'constant'
      WHEN px_max - px_min < 32 THEN 'low_contrast'
      WHEN px_sum / n_vals < 16 THEN 'dark'
      WHEN px_sum / n_vals > 239 THEN 'bright'
      ELSE 'ok'
    END AS quality_class,
    n_vals, px_sum
  FROM all_rows
)
SELECT kind, quality_class,
       count(*)::BIGINT AS n_images,
       sum(n_vals)::BIGINT AS total_vals,
       round(avg(px_sum / n_vals) + 1e-9, 6) AS avg_level
FROM cls
GROUP BY kind, quality_class
ORDER BY kind, quality_class
"""


_RESIZE_MAX_DIM = 24


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining multimodal verb — resize: REAL PNG decode →
    nearest-neighbor downsample (longer side → 24 px, integer floor
    arithmetic) → re-encode via the in-tree codec
    (operators/multimodal.py ``png_resize``). The gate projection carries
    the resized-pixel stats and geometry (zlib thumbnail bytes are not
    SQL-recomputable; their round-trip is pinned in tests/test_resize.py)."""
    media = spark.read.parquet(media_path_for(sf_dir))
    return multimodal.png_resize_stats(media, _RESIZE_MAX_DIM).orderBy(
        "clip_id"
    )


def image_resize_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_image_resize`` — ANALYTIC: the NN
    index map is pure integer floor arithmetic (out (r, c) reads src
    ((r*h)//out_h, (c*w)//out_w)), so the oracle regenerates exactly the
    SAMPLED pixel subset from the closed-form rule (shared
    ``_png_value_case``). Matching requires the Spark side to have decoded
    the real scanlines AND sampled them at precisely the NN offsets —
    a resize that averages, rounds differently, or is off by one pixel
    hash-mismatches."""
    md = _RESIZE_MAX_DIM
    k = (
        "(((j // (out_w * channels)) * height // out_h) * width"
        " + ((j // channels) % out_w) * width // out_w) * channels"
        " + j % channels"
    )
    return f"""
WITH p AS ({_png_header_sql(media_path_for(sf_dir))}),
dims AS (
  SELECT *,
    CASE WHEN greatest(width, height) <= {md} THEN width
         ELSE greatest(1, width * {md} // greatest(width, height)) END
      AS out_w,
    CASE WHEN greatest(width, height) <= {md} THEN height
         ELSE greatest(1, height * {md} // greatest(width, height)) END
      AS out_h
  FROM p
),
agg AS (
  SELECT clip_id,
    count(*)::BIGINT AS n_vals,
    sum(v)::BIGINT AS px_sum,
    min(v)::INT AS px_min,
    max(v)::INT AS px_max
  FROM (
    SELECT clip_id, {_png_value_case(k)} AS v
    FROM (SELECT clip_id, idx, mult, width, height, channels, out_w, out_h,
                 unnest(range(0, out_h * out_w * channels)) AS j
          FROM dims WHERE decode_ok)
  )
  GROUP BY clip_id
)
SELECT dims.clip_id, dims.decode_ok,
       dims.width::INT AS width, dims.height::INT AS height,
       dims.channels::INT AS channels,
       CASE WHEN dims.decode_ok THEN dims.out_w ELSE 0 END::INT AS out_w,
       CASE WHEN dims.decode_ok THEN dims.out_h ELSE 0 END::INT AS out_h,
       agg.n_vals, agg.px_sum, agg.px_min, agg.px_max,
       round(agg.px_sum / agg.n_vals + 1e-9, 6) AS px_mean
FROM dims LEFT JOIN agg USING (clip_id)
ORDER BY clip_id
"""


def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling over the video side table: every 3rd frame of each
    'RVID' payload → exact per-frame pixel stats (operators/video.py —
    codegen magic prefilter, header parse, zero-copy strided frame
    planes, one→many explode). Truncated payloads emit their available
    frames with decode_ok=false; zero-geometry headers emit one
    geometry-only row — every video payload is accounted for."""
    videos = spark.read.parquet(video_path_for(sf_dir))
    return video.frame_sample_stats(videos, every_k=3).orderBy(
        "clip_id", "frame_idx"
    )


def video_frames_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_video_frames`` — ANALYTIC, like the
    pixel oracles: the container header is fixed-offset big-endian hex,
    and frame ``f`` pixel ``k`` follows ``(k*mult + 17*f) % 251``
    (``datagen.generate_video_rows``), so DuckDB regenerates every sampled
    frame from the rule — the only way the Spark side matches is by
    slicing the real frame planes at the right offsets. The worker's
    64M-px hostile-header bound is unreachable on the fixture (max
    geometry 64x48x14), so the oracle needs no mirror term for it."""
    videos = video_path_for(sf_dir)
    return f"""
WITH v AS (
  SELECT clip_id,
    CAST(substr(clip_id, 7) AS BIGINT) + 3 AS mult,
    octet_length(bytes) AS len,
    TRY_CAST('0x' || substr(hex(bytes), 9, 4) AS BIGINT) AS w,
    TRY_CAST('0x' || substr(hex(bytes), 13, 4) AS BIGINT) AS h,
    TRY_CAST('0x' || substr(hex(bytes), 17, 4) AS BIGINT) AS fps,
    TRY_CAST('0x' || substr(hex(bytes), 21, 8) AS BIGINT) AS declared
  FROM read_parquet('{videos}/*.parquet')
  WHERE left(hex(bytes), 8) = '52564944' AND octet_length(bytes) >= 14
),
g AS (
  SELECT *,
    w * h AS frame_px,
    CASE WHEN w * h = 0 THEN 0
         ELSE LEAST(declared, (len - 14) // (w * h)) END AS avail
  FROM v
),
geom AS (
  SELECT clip_id, w::INT AS width, h::INT AS height, fps::INT AS fps,
         declared::INT AS n_frames, avail::INT AS frames_avail,
         (avail = declared AND declared > 0) AS decode_ok,
         NULL::INT AS frame_idx, NULL::BIGINT AS px_sum,
         NULL::INT AS px_min, NULL::INT AS px_max,
         NULL::DOUBLE AS px_mean
  FROM g WHERE avail = 0
),
px AS (
  SELECT clip_id, w, h, fps, declared, avail, frame_idx,
         sum((k * mult + 17 * frame_idx) % 251)::BIGINT AS px_sum,
         min((k * mult + 17 * frame_idx) % 251)::INT AS px_min,
         max((k * mult + 17 * frame_idx) % 251)::INT AS px_max
  FROM (
    SELECT g.*, unnest(range(0, avail, 3)) AS frame_idx
    FROM g WHERE avail > 0
  ) f, LATERAL (SELECT unnest(range(0, frame_px)) AS k) ks
  GROUP BY ALL
)
SELECT * FROM geom
UNION ALL
SELECT clip_id, w::INT AS width, h::INT AS height, fps::INT AS fps,
       declared::INT AS n_frames, avail::INT AS frames_avail,
       (avail = declared AND declared > 0) AS decode_ok,
       frame_idx::INT AS frame_idx, px_sum,
       px_min, px_max,
       round(px_sum / (w * h) + 1e-9, 6) AS px_mean
FROM px
ORDER BY clip_id, frame_idx
"""


def media_meta_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``multimodal_media_meta``: the magic-byte sniff,
    the REAL PNG IHDR parse (two big-endian uint32s read out of the hex
    dump) and the REAL JPEG SOF walk are all pure arithmetic, so the whole
    mapInPandas stage is SQL-checkable — DuckDB reads the SAME cached
    parquet fixtures (``clips_path_for``/``media_path_for`` generate them
    if absent, so calling this from ``oracle_sql()`` is self-contained on
    the driver). The fixture jpegs have at most one variable segment (COM)
    between APP0 and SOF0, so the marker walk unrolls to a 2-step chain of
    computed-offset hex reads (byte position p → hex offset 2p-1); every
    read is TRY_CAST so a corrupt chain degrades to NULL → media_ok=false,
    exactly like the Python walker returning None. Byte-prefix matching
    uses ``left(hex(bytes), k)`` because DuckDB has no BLOB starts_with."""
    path = clips_path_for(sf_dir)
    media = media_path_for(sf_dir)
    return f"""
WITH c AS (
  SELECT octet_length(bytes) AS n, bytes,
    CASE
      WHEN bytes IS NULL OR octet_length(bytes) = 0 THEN 'empty'
      WHEN left(hex(bytes), 8) = '52494646' THEN 'wav'
      WHEN left(hex(bytes), 8) = '664C6143' THEN 'flac'
      WHEN left(hex(bytes), 8) = '89504E47' THEN 'png'
      WHEN left(hex(bytes), 6) = 'FFD8FF' THEN 'jpeg'
      ELSE 'raw'
    END AS kind
  FROM read_parquet(['{path}/*.parquet', '{media}/*.parquet'],
                    union_by_name=true)
),
j AS (  -- JPEG SOF marker walk, unrolled (fixture has <= 1 COM before SOF0)
  SELECT kind, n, bytes,
    substr(hex(bytes), 5, 4) AS m1,                       -- marker at byte 3
    5 + TRY_CAST('0x' || substr(hex(bytes), 9, 4) AS BIGINT) AS p2,
    substr(hex(bytes), 2 * p2 - 1, 4) AS m2,
    p2 + 2 + TRY_CAST(
      '0x' || substr(hex(bytes), 2 * (p2 + 2) - 1, 4) AS BIGINT) AS p3,
    CASE WHEN kind <> 'jpeg' OR m1 <> 'FFE0' THEN NULL
         WHEN m2 = 'FFC0' THEN p2
         WHEN m2 = 'FFFE'
              AND substr(hex(bytes), 2 * p3 - 1, 4) = 'FFC0' THEN p3
         ELSE NULL END AS sof,
    TRY_CAST('0x' || substr(hex(bytes), 2 * (sof + 5) - 1, 4) AS BIGINT) AS jh,
    TRY_CAST('0x' || substr(hex(bytes), 2 * (sof + 7) - 1, 4) AS BIGINT) AS jw,
    -- the walker reads through the component count (byte sof+9): a SOF
    -- truncated before it yields no geometry
    TRY_CAST('0x' || substr(hex(bytes), 2 * (sof + 9) - 1, 2) AS BIGINT) AS jn
  FROM c
),
m AS (
  SELECT kind, n,
    CASE kind WHEN 'png' THEN n >= 24
              WHEN 'jpeg' THEN jw IS NOT NULL AND jh IS NOT NULL
                             AND jn IS NOT NULL
              WHEN 'wav' THEN n > 12
              WHEN 'flac' THEN n > 12
              ELSE FALSE END AS ok,
    CASE WHEN NOT ok THEN 0
         WHEN kind IN ('png', 'jpeg') THEN 1
         ELSE greatest(1, n // 3200) END AS frames,
    CASE WHEN kind = 'png' AND n >= 24
           THEN ('0x' || substr(hex(bytes), 33, 8))::BIGINT
         WHEN kind = 'jpeg' AND jn IS NOT NULL THEN coalesce(jw, 0)
         ELSE 0 END AS width,
    CASE WHEN kind = 'png' AND n >= 24
           THEN ('0x' || substr(hex(bytes), 41, 8))::BIGINT
         WHEN kind = 'jpeg' AND jn IS NOT NULL THEN coalesce(jh, 0)
         ELSE 0 END AS height
  FROM j
)
SELECT kind, count(*)::BIGINT AS n_clips, sum(n)::BIGINT AS total_bytes,
       sum(CASE WHEN ok THEN 1 ELSE 0 END)::BIGINT AS n_ok,
       sum(frames)::BIGINT AS total_frames,
       sum(width)::BIGINT AS sum_width,
       sum(height)::BIGINT AS sum_height
FROM m GROUP BY kind ORDER BY kind
"""


def clips_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape profile over the clips table: per (codec, 1-second
    duration bucket), clip count / payload volume / mean declared duration —
    the first scan a curation team runs on a new audio drop (what's in here,
    how long, how heavy). Pure codegen over declared columns (no decode), so
    unlike the pipeline queries it is fully DuckDB-oracle-checked against
    the same cached parquet. One partial-agg exchange of |codecs×buckets|
    rows; at 10^12 clips the scan reads only the three narrow columns."""
    clips = load_clips(spark, sf_dir)
    bucket = F.coalesce(
        F.floor(F.col("dur_ms") / 1000).cast("int"), F.lit(-1)
    )
    return (
        clips.groupBy("codec", bucket.alias("dur_bucket_s"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.coalesce(F.length("bytes"), F.lit(0))).alias(
                "payload_bytes"
            ),
            F.round(F.avg("dur_ms") + 1e-9, 2).alias("avg_dur_ms"),
        )
        .orderBy("codec", "dur_bucket_s")
    )


def duration_histogram_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``clips_duration_histogram`` over the same cached
    clips parquet (generated if absent, same contract as
    ``media_meta_oracle``)."""
    path = clips_path_for(sf_dir)
    return f"""
SELECT codec,
       coalesce(CAST(floor(dur_ms / 1000.0) AS INTEGER), -1) AS dur_bucket_s,
       count(*)::BIGINT AS n_clips,
       sum(coalesce(octet_length(bytes), 0))::BIGINT AS payload_bytes,
       round(avg(dur_ms) + 1e-9, 2) AS avg_dur_ms
FROM read_parquet('{path}/*.parquet')
GROUP BY 1, 2 ORDER BY 1, 2
"""


def dropout_stats_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``audio_dropout_stats``: the dropout run-length is
    exact integer math on the int16 samples, persisted per clip into the
    decoded-features fixture (``features_path_for`` — pure-Python replay of
    the shared helpers); DuckDB re-runs the classification cascade and the
    aggregation from it."""
    from ..config import DEFAULT_CONFIG

    t = DEFAULT_CONFIG.thresholds
    path = features_path_for(sf_dir)
    return f"""
WITH classed AS (
  SELECT CASE
    WHEN NOT pcm_ok THEN 'undecodable'
    WHEN dropout_ms >= dur_ms_meas * 0.95 THEN 'quiet_audio'
    WHEN dropout_ms > {t.max_dropout_ms} THEN 'dropout'
    WHEN dropout_ms > 5.0 THEN 'minor_gap'
    ELSE 'clean' END AS dropout_class,
    dropout_ms
  FROM read_parquet('{path}/*.parquet')
)
SELECT dropout_class, count(*)::BIGINT AS n_clips,
       round(avg(dropout_ms) + 1e-9, 2) AS avg_dropout_ms,
       round(max(dropout_ms) + 1e-9, 2) AS max_dropout_ms
FROM classed GROUP BY dropout_class ORDER BY dropout_class
"""


def vad_stats_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``audio_vad_stats``: frame counts / speech runs are
    exact integers and speech_ratio/snr_db are stored with the UDF's own
    per-clip rounding, so the aggregation replays from the decoded-features
    fixture."""
    path = features_path_for(sf_dir)
    return f"""
SELECT vad_ok, count(*)::BIGINT AS n_clips,
       sum(n_frames)::BIGINT AS total_frames,
       sum(n_speech_frames)::BIGINT AS total_speech_frames,
       round(avg(speech_ratio) + 1e-9, 4) AS avg_speech_ratio,
       round(avg(snr_db) + 1e-9, 2) AS avg_snr_db,
       sum(n_speech_runs)::BIGINT AS total_runs
FROM read_parquet('{path}/*.parquet')
GROUP BY vad_ok ORDER BY vad_ok
"""


def quality_filter_oracle(sf_dir: str) -> str:
    """Row-level DuckDB oracle for the FLAGSHIP query itself: the fixture
    holds the pure-Python labeler's full result row per clip
    (bit-identical to the pipeline — verified per field in
    tests/test_fixtures.py), so the oracle is a projection."""
    path = features_path_for(sf_dir)
    return f"""
SELECT clip_id, keep, drop_reason, scrubbed_transcript, scrub_edits,
       lang, lang_conf, ppl, pcm_ok, sr_meas, dur_ms_meas, rms, clip_rate,
       dropout_ms
FROM read_parquet('{path}/*.parquet')
"""


def metrics_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``clips_metrics`` (run_metrics replay)."""
    path = features_path_for(sf_dir)
    return f"""
SELECT coalesce(drop_reason, 'kept') AS outcome,
       count(*)::BIGINT AS clips,
       sum(scrub_edits)::BIGINT AS scrub_edits,
       (coalesce(drop_reason, 'kept') = 'kept') AS kept
FROM read_parquet('{path}/*.parquet')
GROUP BY 1
"""


def speaking_rate_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``audio_speaking_rate_gate``: the rate cascade is
    per-row arithmetic on (n_chars, VAD frame counts) from the fixture."""
    path = features_path_for(sf_dir)
    return f"""
WITH classed AS (
  -- 0.010 must be DOUBLE: a bare decimal literal makes DuckDB compute in
  -- DECIMAL, which rounds differently from Spark's double arithmetic
  SELECT n_chars, n_speech_frames * 0.010::DOUBLE AS speech_s,
    CASE
      WHEN (NOT vad_ok) OR n_speech_frames = 0 THEN 'no_speech'
      WHEN n_chars / (n_speech_frames * 0.010::DOUBLE) < 60.0 THEN 'too_slow'
      WHEN n_chars / (n_speech_frames * 0.010::DOUBLE) > 400.0 THEN 'too_fast'
      ELSE 'ok' END AS rate_class
  FROM read_parquet('{path}/*.parquet')
)
SELECT rate_class, count(*)::BIGINT AS n_clips,
       sum(n_chars)::BIGINT AS total_chars,
       round(sum(speech_s) + 1e-9, 2) AS total_speech_s
FROM classed GROUP BY 1 ORDER BY 1
"""


def fingerprint_neardup_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``audio_fingerprint_neardup``: the WHOLE operator
    replays in SQL — md5-keyed redelivery sample, 4x15-bit band explode
    (zero-band hot-key filter included), banded equi-self-join, xor +
    bit_count hamming verify, pair dedup, histogram."""
    path = features_path_for(sf_dir)
    return f"""
WITH base AS (
  SELECT clip_id, fp FROM read_parquet('{path}/*.parquet') WHERE fp_ok
),
delivered AS (
  SELECT clip_id, fp FROM base
  UNION ALL
  SELECT 'redeliver-' || clip_id, fp FROM base
  WHERE ('0x' || substr(md5(clip_id), 1, 4))::BIGINT % 20 = 0
),
bands AS (
  SELECT clip_id, fp, b.band_idx,
         (fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM delivered, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
live AS (SELECT * FROM bands WHERE band_bits != 0),
pairs AS (
  SELECT DISTINCT l.clip_id AS ca, r.clip_id AS cb,
                  l.fp AS fa, r.fp AS fb
  FROM live l JOIN live r
    ON l.band_idx = r.band_idx AND l.band_bits = r.band_bits
   AND l.clip_id < r.clip_id
)
SELECT bit_count(xor(fa, fb))::INT AS hamming, count(*)::BIGINT AS n_pairs
FROM pairs
WHERE bit_count(xor(fa, fb)) <= 3
GROUP BY 1 ORDER BY 1
"""


def waveform_preview_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``clips_waveform_preview``: per-clip thumb length
    / name / ok come from the fixture (the PNG encoder is deterministic),
    the aggregation replays in SQL."""
    path = features_path_for(sf_dir)
    return f"""
SELECT prev_ok, count(*)::BIGINT AS n_clips,
       sum(thumb_len)::BIGINT AS thumb_bytes,
       count(DISTINCT thumb_name)::BIGINT AS n_names
FROM read_parquet('{path}/*.parquet')
GROUP BY prev_ok ORDER BY prev_ok
"""


def spectrogram_preview_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``clips_spectrogram_preview``: per-clip PNG length
    / name / ok replay from the fixture (the spectrogram renderer and PNG
    encoder are deterministic), the aggregation replays in SQL."""
    path = features_path_for(sf_dir)
    return f"""
SELECT sgram_ok, count(*)::BIGINT AS n_clips,
       sum(sgram_len)::BIGINT AS sgram_bytes,
       count(DISTINCT sgram_name)::BIGINT AS n_names
FROM read_parquet('{path}/*.parquet')
GROUP BY sgram_ok ORDER BY sgram_ok
"""


def segment_stats_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``audio_segment_stats``: per-clip segment counts /
    byte volumes (classified by the query's own seg_dur_ms == 250 boundary)
    replay from the fixture over the labeler's keep set."""
    path = features_path_for(sf_dir)
    return f"""
WITH kept AS (
  SELECT * FROM read_parquet('{path}/*.parquet') WHERE keep
)
SELECT false AS is_full_window,
       sum(segp_n)::BIGINT AS n_segments,
       count(*) FILTER (segp_n > 0)::BIGINT AS n_clips,
       sum(segp_bytes)::BIGINT AS payload_bytes
FROM kept HAVING sum(segp_n) > 0
UNION ALL
SELECT true AS is_full_window,
       sum(segf_n)::BIGINT AS n_segments,
       count(*) FILTER (segf_n > 0)::BIGINT AS n_clips,
       sum(segf_bytes)::BIGINT AS payload_bytes
FROM kept HAVING sum(segf_n) > 0
ORDER BY is_full_window
"""


def normalize_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT norm_ok, norm_peak_limited AS peak_limited,
       count(*)::BIGINT AS n_clips,
       sum(norm_len)::BIGINT AS payload_bytes,
       round(avg(norm_gain_db) + 1e-9, 3) AS avg_gain_db,
       round(avg(norm_out_rms_dbfs) + 1e-9, 3) AS avg_out_rms_dbfs
FROM read_parquet('{path}/*.parquet')
GROUP BY 1, 2 ORDER BY 1, 2
"""


def feature_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT feat_ok, count(*)::BIGINT AS n_clips,
       sum(feat_n_frames)::BIGINT AS total_frames,
       sum(feat_len)::BIGINT AS tensor_bytes,
       round(avg(feat_mle) + 1e-9, 3) AS avg_log_energy
FROM read_parquet('{path}/*.parquet') WHERE keep
GROUP BY 1 ORDER BY 1
"""


def trim_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT trim_ok, count(*)::BIGINT AS n_clips,
       sum(trim_dur_in)::BIGINT AS dur_ms_in,
       sum(trim_dur_out)::BIGINT AS dur_ms_out,
       round(1.0 - sum(trim_dur_out) / (1.0 * sum(trim_dur_in)) + 1e-9, 4)
         AS saved_frac
FROM read_parquet('{path}/*.parquet') WHERE keep
GROUP BY 1 ORDER BY 1
"""


def tonality_gate_oracle(sf_dir: str) -> str:
    """Class boundaries injected from operators/spectral.py — the single
    source both the Spark gate and this oracle read."""
    from ..operators import spectral as sp

    path = features_path_for(sf_dir)
    return f"""
WITH classed AS (
  SELECT CASE
    WHEN NOT spec_ok THEN 'no_signal'
    WHEN peak_share > {sp.TONAL_PEAK_SHARE}
         AND flatness < {sp.TONAL_FLATNESS} THEN 'tonal_artifact'
    WHEN peak_share > {sp._NARROWBAND_PEAK} THEN 'narrowband'
    ELSE 'broadband' END AS tonality,
    flatness, centroid_hz, peak_share
  FROM read_parquet('{path}/*.parquet')
)
SELECT tonality, count(*)::BIGINT AS n_clips,
       round(avg(flatness) + 1e-9, 4) AS avg_flatness,
       round(avg(centroid_hz) + 1e-9, 1) AS avg_centroid_hz,
       round(avg(peak_share) + 1e-9, 4) AS avg_peak_share
FROM classed GROUP BY 1 ORDER BY 1
"""


def speed_perturb_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    rows = []
    for f, pre in ((0.9, "sp09"), (1.0, "sp10"), (1.1, "sp11")):
        rows.append(f"""
SELECT {f}::DOUBLE AS factor, count(*)::BIGINT AS n_clips,
       sum({pre}_dur)::BIGINT AS total_dur_ms,
       sum({pre}_len)::BIGINT AS payload_bytes,
       round(avg({pre}_rms) + 1e-9, 4) AS avg_rms
FROM read_parquet('{path}/*.parquet') WHERE keep AND aug_ok""")
    return " UNION ALL ".join(rows) + " ORDER BY factor"


def noise_mix_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT mix_ok, count(*)::BIGINT AS n_clips,
       sum(mix_len)::BIGINT AS payload_bytes,
       round(avg(mix_rms) + 1e-9, 4) AS avg_rms
FROM read_parquet('{path}/*.parquet') WHERE keep AND aug_ok
GROUP BY 1 ORDER BY 1
"""


def resample_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT rs_method, count(*)::BIGINT AS n_clips,
       sum(rs_len)::BIGINT AS payload_bytes,
       sum(rs_dur_out)::BIGINT AS dur_ms_out,
       round(avg(rs_rms) + 1e-9, 4) AS avg_rms
FROM read_parquet('{path}/*.parquet')
GROUP BY 1 ORDER BY 1
"""


def specaugment_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT sa_ok, count(*)::BIGINT AS n_clips,
       sum(sa_masked_cells)::BIGINT AS masked_cells,
       round(avg(sa_masked_frac) + 1e-9, 6) AS avg_masked_frac,
       round(avg(sa_mean_after) + 1e-9, 3) AS avg_log_energy_after
FROM read_parquet('{path}/*.parquet') WHERE keep
GROUP BY 1 ORDER BY 1
"""


def clips_waveform_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 real preview generation: decoded PCM → waveform-thumbnail PNG
    binary column (operators/preview.py), summarized so the driver's
    value-hash check sees stable values. Per-artifact verification (PNG
    round-trip, determinism, oracle pcm_ok agreement) lives in
    tests/test_preview.py."""
    prev = preview.with_previews(load_clips(spark, sf_dir))
    return (
        prev.groupBy("prev_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.coalesce(F.length("thumb_png"), F.lit(0))).alias(
                "thumb_bytes"
            ),
            F.countDistinct("thumb_name").alias("n_names"),
        )
        .orderBy("prev_ok")
    )


def clips_spectrogram_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 second preview flavor: decoded PCM → log-magnitude spectrogram
    PNG (operators/preview.py ``with_spectrograms``), the artifact a
    curation UI inspects for hum/tones/dropouts. Same mapInPandas shape as
    the waveform preview — payload decoded once in the worker, only the
    ~2-6 KB PNG crosses Arrow. Oracle replays per-clip PNG length / name /
    ok from the fixture (renderer + PNG encoder are deterministic);
    pixel-level assertions live in tests/test_preview.py."""
    prev = preview.with_spectrograms(load_clips(spark, sf_dir))
    return (
        prev.groupBy("sgram_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.coalesce(F.length("sgram_png"), F.lit(0))).alias(
                "sgram_bytes"
            ),
            F.countDistinct("sgram_name").alias("n_names"),
        )
        .orderBy("sgram_ok")
    )


def _redeliver_cond() -> F.Column:
    """1-in-20 content-redelivery sample: first 4 md5 hex chars mod 20."""
    return (
        F.conv(F.substring(F.md5(F.col("clip_id")), 1, 4), 16, 10).cast(
            "long"
        )
        % 20
        == 0
    )


def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-identity dedup over AUDIO (operators/audio_fp.py): every 20th
    clip is re-delivered under a new ``clip_id`` (byte-identical payload —
    the upstream-redelivery case the stateful stream dedup also handles),
    then fingerprint → banded LSH join → JVM hamming verify finds the pairs
    without ever comparing ``clip_id``. Summarized by hamming distance so
    the driver's value-hash check sees a small stable relation; pair-level
    assertions live in tests/test_audio_fp.py."""
    clips = load_clips(spark, sf_dir)
    # deterministic 1-in-20 redelivery sample keyed on an md5 prefix (not
    # xxhash64: DuckDB computes the identical md5 hex, which makes the
    # whole query — banding join, hamming verify — oracle-replayable)
    redelivered = (
        clips.filter(_redeliver_cond())
        .withColumn("clip_id", F.concat(F.lit("redeliver-"), F.col("clip_id")))
    )
    both = clips.unionByName(redelivered)
    pairs = audio_fp.banded_neardup_pairs(
        audio_fp.with_fingerprint(both), max_hamming=3
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("hamming")
    )


def audio_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-filter fan-out stage: kept clips → fixed 250 ms training
    segments at a normalized 16 kHz (operators/segment.py, one→many
    mapInPandas). Summarized per segment-duration class so the driver's
    value-hash check sees a small stable relation; sample-exact
    reconstruction is pinned in tests/test_segment.py."""
    clips = _kept_clips(spark, sf_dir)
    segs = segment.segment_clips(clips, window_ms=250, sr_out=16000)
    return (
        segs.groupBy((F.col("seg_dur_ms") == 250).alias("is_full_window"))
        .agg(
            F.count("*").alias("n_segments"),
            F.countDistinct("clip_id").alias("n_clips"),
            F.sum(F.length("seg_bytes")).alias("payload_bytes"),
        )
        .orderBy("is_full_window")
    )


def audio_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness normalization (operators/normalize.py) over the clips table,
    summarized by (norm_ok, peak_limited) so the driver's value-hash check
    sees a small stable relation; per-sample gain/limiter/decode-back
    assertions live in tests/test_normalize.py."""
    norm = normalize.normalize_clips(load_clips(spark, sf_dir))
    return (
        norm.groupBy("norm_ok", "peak_limited")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.coalesce(F.length("norm_bytes"), F.lit(0))).alias(
                "payload_bytes"
            ),
            F.round(F.avg("gain_db") + 1e-9, 3).alias("avg_gain_db"),
            F.round(F.avg("out_rms_dbfs") + 1e-9, 3).alias("avg_out_rms_dbfs"),
        )
        .orderBy("norm_ok", "peak_limited")
    )


def audio_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filterbank feature extraction (operators/features.py) over kept
    clips — the ASR-training tensor step after filter/normalize/segment.
    Summarized so the driver's value-hash check sees a small stable
    relation; frame math / band localization / tensor round-trip are
    pinned in tests/test_features.py."""
    clips = _kept_clips(spark, sf_dir)
    feats = features.feature_frames(clips)
    return (
        feats.groupBy("feat_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum(F.coalesce(F.length("feat_bytes"), F.lit(0))).alias(
                "tensor_bytes"
            ),
            F.round(F.avg("mean_log_energy") + 1e-9, 3).alias("avg_log_energy"),
        )
        .orderBy("feat_ok")
    )


def audio_mfcc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MFCC extraction (operators/mfcc.py) over kept clips — the canonical
    ASR acoustic feature (true triangular mel filterbank + orthonormal
    DCT-II, both built from their defining formulas). Summarized per
    decode outcome; the oracle replays from the fixture's shared
    ``clip_mfcc`` columns, so the mel/DCT math itself is value-hash-checked
    end-to-end. Coefficient-basis invariants (orthonormality, tone
    localization, containment) are pinned in tests/test_mfcc.py."""
    m = mfcc.mfcc_frames(_kept_clips(spark, sf_dir))
    return (
        m.groupBy("mfcc_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum(F.coalesce(F.length("mfcc_bytes"), F.lit(0))).alias(
                "tensor_bytes"
            ),
            F.round(F.avg("c0_mean") + 1e-9, 3).alias("avg_c0"),
            F.round(F.avg("c1_mean") + 1e-9, 3).alias("avg_c1"),
            F.round(F.avg("c2_mean") + 1e-9, 3).alias("avg_c2"),
        )
        .orderBy("mfcc_ok")
    )


def mfcc_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT mfcc_ok, count(*)::BIGINT AS n_clips,
       sum(mfcc_n_frames)::BIGINT AS total_frames,
       sum(mfcc_len)::BIGINT AS tensor_bytes,
       round(avg(mfcc_c0) + 1e-9, 3) AS avg_c0,
       round(avg(mfcc_c1) + 1e-9, 3) AS avg_c1,
       round(avg(mfcc_c2) + 1e-9, 3) AS avg_c2
FROM read_parquet('{path}/*.parquet') WHERE keep
GROUP BY 1 ORDER BY 1
"""


def audio_bandwidth_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-bandwidth profile (operators/bandwidth.py) over ALL clips —
    spectral rolloff vs declared Nyquist, the upsample/band-limit detector
    corpus QC runs before trusting rate-derived features. Classified in
    codegen into occupancy bands so the output is a small stable relation;
    the rolloff math replays through the fixture's shared
    ``clip_bandwidth`` columns. Gate behavior (wideband vs band-limited vs
    tone vs silence) pinned in tests/test_bandwidth.py."""
    stats = bandwidth.bandwidth_stats(load_clips(spark, sf_dir))
    band = (
        F.when(~F.col("bw_ok"), "undecodable")
        .when(F.col("upsample_suspect"), "suspect_narrow")
        .when(F.col("bw_ratio") < 0.5, "band_limited")
        .when(F.col("bw_ratio") < 0.8, "nominal")
        .otherwise("full_band")
    )
    return (
        stats.withColumn("occupancy", band)
        .groupBy("occupancy")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("rolloff95_hz") + 1e-9, 1).alias("avg_rolloff95"),
            F.round(F.avg("bw_ratio") + 1e-9, 4).alias("avg_bw_ratio"),
        )
        .orderBy("occupancy")
    )


def bandwidth_gate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH b AS (
  SELECT CASE WHEN NOT bw_ok THEN 'undecodable'
              WHEN bw_suspect THEN 'suspect_narrow'
              WHEN bw_ratio < 0.5 THEN 'band_limited'
              WHEN bw_ratio < 0.8 THEN 'nominal'
              ELSE 'full_band' END AS occupancy,
         bw_rolloff95, bw_ratio
  FROM read_parquet('{path}/*.parquet')
)
SELECT occupancy, count(*)::BIGINT AS n_clips,
       round(avg(bw_rolloff95) + 1e-9, 1) AS avg_rolloff95,
       round(avg(bw_ratio) + 1e-9, 4) AS avg_bw_ratio
FROM b GROUP BY 1 ORDER BY 1
"""


def audio_syllable_rate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic syllable rate vs transcript character rate
    (operators/syllable.py) over ALL clips — the cross-modal wrong-transcript
    detector: the envelope-modulation peak estimates the ACOUSTIC speaking
    rate with no ASR, the transcript implies an EXPECTED rate
    (chars/sec ÷ 6 chars-per-syllable prior), and pairs whose ratio falls
    outside [0.5, 2.0] are flagged as plausibility mismatches. Classified
    in codegen into rate bands × agreement; the modulation math replays
    through the fixture's shared ``clip_syllable`` columns. Estimator
    accuracy (planted modulation rate recovered within bin width) is
    pinned in tests/test_syllable.py."""
    stats = syllable.syllable_stats(load_clips(spark, sf_dir))
    rate_band = (
        F.when(~F.col("syl_ok"), "unmeasurable")
        .when(F.col("syl_rate_hz") < 3.5, "slow")
        .when(F.col("syl_rate_hz") < 5.5, "normal")
        .otherwise("fast")
    )
    # expression order matters: the oracle replays this EXACT float chain
    expected_ratio = (
        F.col("n_chars") * F.lit(1000.0) / F.col("dur_ms") / F.lit(6.0)
    ) / F.col("syl_rate_hz")
    agreement = (
        F.when(
            ~F.col("syl_ok")
            | (F.col("dur_ms") <= 0)
            | (F.col("n_chars") <= 0),
            "n/a",
        )
        .when(
            (expected_ratio >= 0.5) & (expected_ratio <= 2.0), "match"
        )
        .otherwise("mismatch")
    )
    return (
        stats.withColumn("rate_band", rate_band)
        .withColumn("transcript_agree", agreement)
        .groupBy("rate_band", "transcript_agree")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("syl_rate_hz") + 1e-9, 3).alias("avg_rate_hz"),
            F.round(F.avg("mod_share") + 1e-9, 4).alias("avg_mod_share"),
        )
        .orderBy("rate_band", "transcript_agree")
    )


def syllable_rate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH s AS (
  SELECT CASE WHEN NOT syl_ok THEN 'unmeasurable'
              WHEN syl_rate < 3.5 THEN 'slow'
              WHEN syl_rate < 5.5 THEN 'normal'
              ELSE 'fast' END AS rate_band,
         CASE WHEN NOT syl_ok OR syl_dur_ms <= 0 OR n_chars <= 0 THEN 'n/a'
              WHEN (n_chars * 1000.0 / syl_dur_ms / 6.0) / syl_rate >= 0.5
               AND (n_chars * 1000.0 / syl_dur_ms / 6.0) / syl_rate <= 2.0
              THEN 'match' ELSE 'mismatch' END AS transcript_agree,
         syl_rate, syl_share
  FROM read_parquet('{path}/*.parquet')
)
SELECT rate_band, transcript_agree, count(*)::BIGINT AS n_clips,
       round(avg(syl_rate) + 1e-9, 3) AS avg_rate_hz,
       round(avg(syl_share) + 1e-9, 4) AS avg_mod_share
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


def transcript_compression_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transcript zlib-compressibility profile (operators/textcomp.py) over
    ALL clips — the cheap boilerplate / noise pre-filter: deflate ratio
    separates looped-template transcripts (repetitive band) from natural
    language from incompressible junk, ahead of the expensive perplexity
    pass. Band classification is codegen; the deflate math replays through
    the fixture's shared ``transcript_compression`` columns (DuckDB cannot
    deflate — only a genuine zlib pass hash-matches). Band behavior
    (planted repetition / gibberish land in their bands) is pinned in
    tests/test_syllable.py."""
    stats = textcomp.compression_stats(load_clips(spark, sf_dir))
    band = (
        F.when(~F.col("z_ok"), "empty")
        .when(F.col("z_ratio") < 0.45, "repetitive")
        .when(F.col("z_ratio") < 0.75, "natural")
        .when(F.col("z_ratio") < 1.0, "dense")
        .otherwise("header_bound")
    )
    return (
        stats.withColumn("z_band", band)
        .groupBy("z_band")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("z_ratio") + 1e-9, 4).alias("avg_z_ratio"),
            F.round(F.avg("raw_len") + 1e-9, 1).alias("avg_raw_len"),
            F.sum("z_len").alias("total_z_bytes"),
        )
        .orderBy("z_band")
    )


def transcript_compression_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH z AS (
  SELECT CASE WHEN NOT z_ok THEN 'empty'
              WHEN z_ratio < 0.45 THEN 'repetitive'
              WHEN z_ratio < 0.75 THEN 'natural'
              WHEN z_ratio < 1.0 THEN 'dense'
              ELSE 'header_bound' END AS z_band,
         z_ratio, z_raw_len, z_len
  FROM read_parquet('{path}/*.parquet')
)
SELECT z_band, count(*)::BIGINT AS n_clips,
       round(avg(z_ratio) + 1e-9, 4) AS avg_z_ratio,
       round(avg(z_raw_len) + 1e-9, 1) AS avg_raw_len,
       sum(z_len)::BIGINT AS total_z_bytes
FROM z GROUP BY 1 ORDER BY 1
"""


def audio_health_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Waveform-health profile (operators/health.py) over ALL clips — DC
    offset and crest factor, the two time-domain acquisition-chain checks:
    a crushed crest flags limiting/over-compression even when peaks were
    re-normalized below the clip-ratio rule's radar; a biased DC wastes
    headroom and marks a broken front-end. Classified in codegen into
    dynamics bands × dc flag; the math replays through the fixture's shared
    ``clip_health`` columns. Band behavior (clipped material lands in
    over_compressed, silence contained) is pinned in tests/test_health.py."""
    stats = health.health_stats(load_clips(spark, sf_dir))
    dyn = (
        F.when(~F.col("wh_ok"), "unmeasurable")
        .when(F.col("crest_db") < 6.0, "over_compressed")
        .when(F.col("crest_db") < 9.0, "natural")
        .otherwise("dynamic")
    )
    dc_biased = F.col("wh_ok") & (F.abs(F.col("dc_offset")) > 0.002)
    return (
        stats.withColumn("dynamics", dyn)
        .withColumn("dc_biased", dc_biased)
        .groupBy("dynamics", "dc_biased")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("crest_db") + 1e-9, 3).alias("avg_crest_db"),
            F.round(F.avg(F.abs(F.col("dc_offset"))) + 1e-9, 6).alias(
                "avg_abs_dc"
            ),
            F.round(F.max("peak") + 1e-9, 4).alias("max_peak"),
        )
        .orderBy("dynamics", "dc_biased")
    )


def health_gate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH h AS (
  SELECT CASE WHEN NOT wh_ok THEN 'unmeasurable'
              WHEN wh_crest_db < 6.0 THEN 'over_compressed'
              WHEN wh_crest_db < 9.0 THEN 'natural'
              ELSE 'dynamic' END AS dynamics,
         (wh_ok AND abs(wh_dc) > 0.002) AS dc_biased,
         wh_crest_db, wh_dc, wh_peak
  FROM read_parquet('{path}/*.parquet')
)
SELECT dynamics, dc_biased, count(*)::BIGINT AS n_clips,
       round(avg(wh_crest_db) + 1e-9, 3) AS avg_crest_db,
       round(avg(abs(wh_dc)) + 1e-9, 6) AS avg_abs_dc,
       round(max(wh_peak) + 1e-9, 4) AS max_peak
FROM h GROUP BY 1, 2 ORDER BY 1, 2
"""


def audio_transcode_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-container migration report (operators/transcode.py) over
    ALL clips — per source codec: how many clips canonicalize to WAV, how
    many round-trip SAMPLE-EXACT (the lossless proof a migration needs
    before retiring source bytes), the canonical byte bill, the container
    size ratio, and the distinct content-checksum count (clips that differ
    only by container collide on ``canon_crc32``). The transcode math
    replays through the fixture's shared ``clip_transcode`` columns —
    DuckDB cannot decode-reencode, so only a genuine round trip
    hash-matches. Exactness and checksum behavior are pinned in
    tests/test_health.py."""
    stats = transcode.transcode_stats(load_clips(spark, sf_dir))
    return (
        stats.groupBy("codec")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("tc_ok").cast("long")).alias("n_canonical"),
            F.sum(F.col("tc_exact").cast("long")).alias("n_exact"),
            F.sum("canon_len").alias("canon_bytes"),
            F.round(
                F.avg(F.when(F.col("tc_ok"), F.col("size_ratio"))) + 1e-9, 4
            ).alias("avg_size_ratio"),
            F.countDistinct(
                F.when(F.col("tc_ok"), F.col("canon_crc32"))
            ).alias("n_distinct_content"),
        )
        .orderBy("codec")
    )


def transcode_migration_oracle(sf_dir: str) -> str:
    fx = features_path_for(sf_dir)
    clips = clips_path_for(sf_dir)
    return f"""
WITH t AS (
  SELECT c.codec, f.tc_ok, f.tc_exact, f.tc_canon_len, f.tc_size_ratio,
         f.tc_crc32
  FROM read_parquet('{fx}/*.parquet') f
  JOIN (SELECT clip_id, codec FROM read_parquet('{clips}/*.parquet')) c
    USING (clip_id)
)
SELECT codec, count(*)::BIGINT AS n_clips,
       sum(CASE WHEN tc_ok THEN 1 ELSE 0 END)::BIGINT AS n_canonical,
       sum(CASE WHEN tc_exact THEN 1 ELSE 0 END)::BIGINT AS n_exact,
       sum(tc_canon_len)::BIGINT AS canon_bytes,
       round(avg(CASE WHEN tc_ok THEN tc_size_ratio END) + 1e-9, 4)
         AS avg_size_ratio,
       count(DISTINCT CASE WHEN tc_ok THEN tc_crc32 END)::BIGINT
         AS n_distinct_content
FROM t GROUP BY 1 ORDER BY 1
"""


def clips_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/valid/test split — the eval-leakage guard. A naive
    per-clip hash split puts near-duplicate clips (re-encodes, redeliveries,
    trims of the same recording) on BOTH sides of the train/eval boundary,
    inflating eval scores; the guard splits by CONTENT GROUP instead: the
    fingerprint near-dup graph (operators/audio_fp.py banding + hamming
    verify) is closed into connected components (iterative min-label
    propagation, the dedup family's CC shape), every clip is re-keyed to
    its group root, and the md5 split rule is applied to the ROOT — so a
    whole near-dup family lands on one side by construction. The report
    counts, per split, the clips, groups, multi-clip groups, and the clips
    the guard REHOMED (whose naive own-id split disagrees with their group
    split — the leaks a per-clip split would have created).

    Scale shape: fingerprints are one UDF stage of slim rows; banding is an
    equi-join; CC rounds are equi-join + partial-agg min with
    ``localCheckpoint`` lineage truncation (O(diameter) rounds, shallow
    components); both aggregations shuffle (id, root, split) rows only —
    payloads never leave the fingerprint stage. Oracle: DuckDB replays the
    whole chain — band explode, hamming verify, WITH RECURSIVE closure,
    md5 split — from the fixture's fingerprint columns.

    Reference analog: the plane re-homing regroup J1
    (``fix_product_id_visit.py:80-107``) — records re-keyed to a canonical
    group id before placement.

    Like ``audio_fingerprint_neardup``, every 20th clip is re-delivered
    under a new id (byte-identical payload) so the corpus contains real
    near-dup families — without them the guard would have nothing to
    rehome and the query would prove nothing."""
    clips = load_clips(spark, sf_dir)
    redelivered = clips.filter(_redeliver_cond()).withColumn(
        "clip_id", F.concat(F.lit("redeliver-"), F.col("clip_id"))
    )
    clips = clips.unionByName(redelivered)
    fp = audio_fp.with_fingerprint(clips).select("clip_id", "fp_ok", "fp")
    pairs = audio_fp.banded_neardup_pairs(fp, max_hamming=3).select(
        "clip_a", "clip_b"
    )
    # shared CC shape (operators/graph.py): fails loudly on non-convergence
    # — silent truncation would split a content family across the boundary
    labels = min_label_components(pairs, "clip_a", "clip_b", "clip_id")

    def _split_of(col):
        # digest chars 5-8, NOT the 1-4 prefix: the redelivery sample keys
        # on the prefix, and reusing it would correlate "is a dup family"
        # with "lands in train" (every dup root would hash to bucket 0)
        h = F.conv(F.substring(F.md5(col), 5, 4), 16, 10).cast("long") % 10
        return (
            F.when(h < 8, "train").when(h < 9, "valid").otherwise("test")
        )

    rooted = (
        clips.select("clip_id")
        .join(labels, "clip_id", "left")
        .select(
            "clip_id",
            F.coalesce(F.col("component"), F.col("clip_id")).alias("root"),
        )
        .withColumn("split", _split_of(F.col("root")))
        .withColumn("naive", _split_of(F.col("clip_id")))
    )
    groups = rooted.groupBy("root", "split").agg(
        F.count("*").alias("size"),
        F.sum(
            F.when(F.col("naive") != F.col("split"), 1).otherwise(0)
        ).alias("rehomed"),
    )
    return (
        groups.groupBy("split")
        .agg(
            F.sum("size").alias("n_clips"),
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("size") >= 2, 1).otherwise(0)).alias(
                "n_dup_groups"
            ),
            F.sum("rehomed").alias("n_rehomed"),
        )
        .orderBy("split")
    )


def leakage_free_split_oracle(sf_dir: str) -> str:
    """DuckDB oracle for ``clips_leakage_free_split``: replays the whole
    chain — band explode (zero-band filter included), hamming verify,
    WITH RECURSIVE component closure, md5 root split, rehome count."""
    path = features_path_for(sf_dir)
    return f"""
WITH RECURSIVE delivered AS (
  SELECT clip_id, fp_ok, fp FROM read_parquet('{path}/*.parquet')
  UNION ALL
  SELECT 'redeliver-' || clip_id, fp_ok, fp
  FROM read_parquet('{path}/*.parquet')
  WHERE ('0x' || substr(md5(clip_id), 1, 4))::BIGINT % 20 = 0
),
base AS (
  SELECT clip_id, fp FROM delivered WHERE fp_ok
),
bands AS (
  SELECT clip_id, fp, b.band_idx,
         (fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM base, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
live AS (SELECT * FROM bands WHERE band_bits != 0),
p AS (
  SELECT DISTINCT l.clip_id AS ca, r.clip_id AS cb, l.fp AS fa, r.fp AS fb
  FROM live l JOIN live r
    ON l.band_idx = r.band_idx AND l.band_bits = r.band_bits
   AND l.clip_id < r.clip_id
),
pairs AS (SELECT ca, cb FROM p WHERE bit_count(xor(fa, fb)) <= 3),
e AS (
  SELECT ca AS src, cb AS dst FROM pairs
  UNION ALL
  SELECT cb, ca FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
),
comp AS (
  SELECT src AS clip_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
),
rooted AS (
  SELECT f.clip_id, coalesce(c.component, f.clip_id) AS root
  FROM (SELECT clip_id FROM delivered) f
  LEFT JOIN comp c USING (clip_id)
),
labeled AS (
  SELECT clip_id, root,
         CASE WHEN ('0x' || substr(md5(root), 5, 4))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(root), 5, 4))::BIGINT % 10 < 9
              THEN 'valid' ELSE 'test' END AS split,
         CASE WHEN ('0x' || substr(md5(clip_id), 5, 4))::BIGINT % 10 < 8
              THEN 'train'
              WHEN ('0x' || substr(md5(clip_id), 5, 4))::BIGINT % 10 < 9
              THEN 'valid' ELSE 'test' END AS naive
  FROM rooted
),
g AS (
  SELECT root, split, count(*) AS sz,
         sum(CASE WHEN naive != split THEN 1 ELSE 0 END) AS rehomed
  FROM labeled GROUP BY root, split
)
SELECT split, sum(sz)::BIGINT AS n_clips, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups,
       sum(rehomed)::BIGINT AS n_rehomed
FROM g GROUP BY 1 ORDER BY 1
"""


def audio_decontaminate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination in the AUDIO modality — the fingerprint
    analog of the text family's ``decontaminate_*``: training clips whose
    content near-dups a held-out eval clip must be REMOVED from the
    training side (an eval recording that leaked into the crawl under a
    different id inflates every benchmark it touches). The held-out set is
    an md5-keyed ~8% sample; contamination is PLANTED (a third of the eval
    clips re-enter the training side byte-identical under ``leak-`` ids —
    the crawl-leak case; on the synthetic corpus, tone-alike clips also
    collide at hamming 0 and are flagged — the fingerprint's documented
    content-identity semantics, not an artifact of this query), and the
    probe is the persisted-signature-store
    shape (``audio_fp.incremental_matches``): banded equi-join of training
    fingerprints against eval fingerprints, codegen hamming verify — at
    10^12 clips this is O(train) work against a bucketed store, never a
    corpus self-pair. Output is the one-row decontamination report:
    training size, eval size, flagged (to remove), retained.

    Eval/leak keys use digest chars 9-12 — independent of both the
    redelivery sampler (chars 1-4) and the split rule (chars 5-8).

    Oracle: DuckDB replays the sampling rules, band explode, equi-join and
    hamming verify from the fixture's fingerprint columns."""
    clips = load_clips(spark, sf_dir)
    key = F.conv(F.substring(F.md5(F.col("clip_id")), 9, 4), 16, 10).cast(
        "long"
    )
    is_eval = (key % 12) == 0
    is_leak = is_eval & ((key % 3) == 0)
    eval_clips = clips.filter(is_eval)
    leaks = eval_clips.filter(is_leak).withColumn(
        "clip_id", F.concat(F.lit("leak-"), F.col("clip_id"))
    )
    train = clips.filter(~is_eval).unionByName(leaks)

    train_fp = audio_fp.with_fingerprint(train).select(
        "clip_id", "fp_ok", "fp"
    )
    eval_fp = audio_fp.with_fingerprint(eval_clips).select(
        "clip_id", "fp_ok", "fp"
    )
    flagged = audio_fp.incremental_matches(train_fp, eval_fp, max_hamming=3)

    sizes = clips.agg(
        F.sum((~is_eval).cast("long")).alias("n_base_train"),
        F.sum(is_eval.cast("long")).alias("n_eval"),
        F.sum(is_leak.cast("long")).alias("n_leaks"),
    )
    hits = flagged.agg(
        F.count("*").alias("n_flagged"),
        F.max("hamming").alias("max_hamming"),
    )
    return sizes.crossJoin(hits).select(
        (F.col("n_base_train") + F.col("n_leaks")).alias("n_train"),
        "n_eval",
        "n_flagged",
        (
            F.col("n_base_train") + F.col("n_leaks") - F.col("n_flagged")
        ).alias("n_retained"),
        "max_hamming",
    )


def decontaminate_eval_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH keyed AS (
  SELECT clip_id, fp_ok, fp,
         ('0x' || substr(md5(clip_id), 9, 4))::BIGINT AS k
  FROM read_parquet('{path}/*.parquet')
),
eval_side AS (SELECT * FROM keyed WHERE k % 12 = 0),
train_side AS (
  SELECT clip_id, fp_ok, fp FROM keyed WHERE k % 12 != 0
  UNION ALL
  SELECT 'leak-' || clip_id, fp_ok, fp FROM eval_side WHERE k % 3 = 0
),
tb AS (
  SELECT t.clip_id, t.fp, b.band_idx,
         (t.fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM train_side t, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
  WHERE t.fp_ok
),
eb AS (
  SELECT e.clip_id, e.fp, b.band_idx,
         (e.fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM eval_side e, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
  WHERE e.fp_ok
),
cand AS (
  SELECT DISTINCT t.clip_id, t.fp AS fp_n, e.fp AS fp_s
  FROM (SELECT * FROM tb WHERE band_bits != 0) t
  JOIN (SELECT * FROM eb WHERE band_bits != 0) e
    ON t.band_idx = e.band_idx AND t.band_bits = e.band_bits
),
matched AS (
  SELECT clip_id, min(bit_count(xor(fp_n, fp_s))) AS best_ham
  FROM cand WHERE bit_count(xor(fp_n, fp_s)) <= 3
  GROUP BY clip_id
),
sizes AS (
  SELECT sum(CASE WHEN k % 12 != 0 THEN 1 ELSE 0 END)::BIGINT AS n_base,
         sum(CASE WHEN k % 12 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_eval,
         sum(CASE WHEN k % 12 = 0 AND k % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
           AS n_leaks
  FROM keyed
),
hits AS (
  SELECT count(*)::BIGINT AS n_flagged, max(best_ham)::INT AS max_hamming
  FROM matched
)
SELECT (s.n_base + s.n_leaks)::BIGINT AS n_train, s.n_eval,
       h.n_flagged, (s.n_base + s.n_leaks - h.n_flagged)::BIGINT
         AS n_retained, h.max_hamming
FROM sizes s, hits h
"""


def clips_token_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-filter training-capacity report — the first table a training
    team asks of a curated corpus: per (language × perplexity band), how
    many clips survived and how many TOKENS of scrubbed transcript they
    carry. Runs on the flagship pipeline output (one fused UDF pass, keep
    decided in place) with a pure-codegen token count — tokens are counted
    by the engine-portable space-count formula (single-spaced transcripts:
    ``len(s) − len(replace(s,' ','')) + 1``) so DuckDB replays it exactly
    from the fixture's scrubbed transcripts. The groupBy shuffles only
    (lang, band, int) rows — payload and text die before the exchange."""
    filtered = quality_filter(load_clips(spark, sf_dir)).filter(F.col("keep"))
    s = F.col("scrubbed_transcript")
    n_tokens = F.when(F.length(s) == 0, F.lit(0)).otherwise(
        F.length(s) - F.length(F.regexp_replace(s, " ", "")) + F.lit(1)
    )
    band = (
        F.when(F.col("ppl") < 4000.0, "fluent")
        .when(F.col("ppl") < 5500.0, "typical")
        .when(F.col("ppl") < 7000.0, "marginal")
        .otherwise("suspect")
    )
    return (
        filtered.withColumn("ppl_band", band)
        .withColumn("n_tokens", n_tokens)
        .groupBy("lang", "ppl_band")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.length(s)).alias("total_chars"),
            F.round(F.avg("ppl") + 1e-9, 2).alias("avg_ppl"),
        )
        .orderBy("lang", "ppl_band")
    )


def token_budget_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH t AS (
  SELECT lang, ppl, scrubbed_transcript AS s,
         CASE WHEN ppl < 4000.0 THEN 'fluent'
              WHEN ppl < 5500.0 THEN 'typical'
              WHEN ppl < 7000.0 THEN 'marginal'
              ELSE 'suspect' END AS ppl_band,
         CASE WHEN length(scrubbed_transcript) = 0 THEN 0
              ELSE length(scrubbed_transcript)
                   - length(replace(scrubbed_transcript, ' ', '')) + 1
         END AS n_tokens
  FROM read_parquet('{path}/*.parquet') WHERE keep
)
SELECT lang, ppl_band, count(*)::BIGINT AS n_clips,
       sum(n_tokens)::BIGINT AS total_tokens,
       sum(length(s))::BIGINT AS total_chars,
       round(avg(ppl) + 1e-9, 2) AS avg_ppl
FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


def audio_reverb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverberation profile (operators/reverb.py) over ALL clips — the
    energy-decay slope after the loudest frame, the room-acoustics gate a
    speech corpus applies before trusting transcripts (heavy reverb is a
    strong ASR-label-noise predictor). Classified in codegen into the
    familiar RT60 bands; the decay math replays through the fixture's
    shared ``clip_reverb`` columns. Decay-fit accuracy (synthetic
    exponential tails land in the right band, sustained signals read
    no-decay) is pinned in tests/test_reverb.py."""
    stats = reverb.reverb_stats(load_clips(spark, sf_dir))
    band = (
        F.when(~F.col("rev_ok"), "unmeasurable")
        .when(F.col("rt60_ms") <= 0.0, "no_decay")
        .when(F.col("rt60_ms") < 300.0, "dry")
        .when(F.col("rt60_ms") < 800.0, "live")
        .when(F.col("rt60_ms") < 2000.0, "reverberant")
        .otherwise("boomy")
    )
    return (
        stats.withColumn("room", band)
        .groupBy("room")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("decay_db_s") + 1e-9, 2).alias("avg_decay_db_s"),
            F.round(F.avg("rt60_ms") + 1e-9, 1).alias("avg_rt60_ms"),
            F.round(F.avg("tail_ms") + 1e-9, 1).alias("avg_tail_ms"),
        )
        .orderBy("room")
    )


def reverb_gate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH r AS (
  SELECT CASE WHEN NOT rev_ok THEN 'unmeasurable'
              WHEN rev_rt60_ms <= 0.0 THEN 'no_decay'
              WHEN rev_rt60_ms < 300.0 THEN 'dry'
              WHEN rev_rt60_ms < 800.0 THEN 'live'
              WHEN rev_rt60_ms < 2000.0 THEN 'reverberant'
              ELSE 'boomy' END AS room,
         rev_decay_db_s, rev_rt60_ms, rev_tail_ms
  FROM read_parquet('{path}/*.parquet')
)
SELECT room, count(*)::BIGINT AS n_clips,
       round(avg(rev_decay_db_s) + 1e-9, 2) AS avg_decay_db_s,
       round(avg(rev_rt60_ms) + 1e-9, 1) AS avg_rt60_ms,
       round(avg(rev_tail_ms) + 1e-9, 1) AS avg_tail_ms
FROM r GROUP BY 1 ORDER BY 1
"""


def audio_hum_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mains-hum contamination profile (operators/hum.py) over ALL clips —
    50/60 Hz family power share, the ground-loop screen corpus QC runs
    before feature extraction (hum drags MFCC C0/C1 and captures pitch
    trackers). Contaminated = winning family holds over 5% of clip power;
    the Goertzel math replays through the fixture's shared ``clip_hum``
    columns. Detector behavior (planted 50/60 Hz flagged, clean audio
    passes, silence contained) is pinned in tests/test_hum.py."""
    stats = hum.hum_stats(load_clips(spark, sf_dir))
    verdict = (
        F.when(~F.col("hum_ok"), "unmeasurable")
        .when(F.col("hum_ratio") > 0.05, F.concat(F.lit("hum_"), F.col("hum_hz")))
        .otherwise("clean")
    )
    return (
        stats.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("hum_ratio") + 1e-9, 4).alias("avg_hum_ratio"),
            F.round(F.avg("hum_harmonics") + 1e-9, 2).alias("avg_harmonics"),
        )
        .orderBy("verdict")
    )


def hum_gate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH h AS (
  SELECT CASE WHEN NOT hum_ok THEN 'unmeasurable'
              WHEN hum_ratio > 0.05 THEN 'hum_' || hum_hz
              ELSE 'clean' END AS verdict,
         hum_ratio, hum_harmonics
  FROM read_parquet('{path}/*.parquet')
)
SELECT verdict, count(*)::BIGINT AS n_clips,
       round(avg(hum_ratio) + 1e-9, 4) AS avg_hum_ratio,
       round(avg(hum_harmonics) + 1e-9, 2) AS avg_harmonics
FROM h GROUP BY 1 ORDER BY 1
"""


_GAIN_TARGET_LUFS = -18.0  # program-loudness normalization target
_GAIN_CLIP_CEIL = -0.1  # post-gain sample peak above this risks clipping


def audio_gain_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level loudness-normalization PLAN — the step between the
    loudness gate and a destructive re-level pass (the same
    observe-before-patch pattern as ``plans/maintenance.py``): per codec,
    the median integrated loudness of the measurable clips sets ONE
    recommended gain (target −18 LUFS − median), and the plan reports how
    many clips that gain would push past the clipping ceiling (their
    sample peak + gain > −0.1 dBFS) — the clips a limiter or per-clip
    gain would have to handle instead. A per-codec (not per-clip) gain is
    the standard first pass: it preserves relative dynamics within a
    codec family while removing the systematic level offset between
    ingestion paths.

    Scale shape: the loudness stats are the one Arrow crossing; codec
    attaches by a slim clip_id join; the median is one per-codec
    aggregation (exact here, approx_percentile at 10^12 rows); the
    clipping-risk count joins the |codecs|-row plan back by broadcast.
    Replay: all inputs are fixture columns (loud_*) joined to the cached
    clips parquet's codec by clip_id — DuckDB recomputes the whole plan.
    """
    clips = load_clips(spark, sf_dir).select("clip_id", "codec")
    stats = loudness.loudness_stats(load_clips(spark, sf_dir)).join(
        clips, "clip_id"
    )
    measurable = stats.filter(F.col("loud_ok"))
    plan = measurable.groupBy("codec").agg(
        F.count("*").alias("n_measurable"),
        F.round(
            F.expr("percentile(lufs, 0.5D)") + 1e-9, 4
        ).alias("median_lufs"),
    ).withColumn(
        "gain_db",
        F.round(_GAIN_TARGET_LUFS - F.col("median_lufs") + 1e-9, 4),
    )
    risk = (
        measurable.join(F.broadcast(plan.select("codec", "gain_db")), "codec")
        .withColumn(
            "clips_after_gain",
            (F.col("peak_dbfs") + F.col("gain_db")) > _GAIN_CLIP_CEIL,
        )
        .groupBy("codec")
        .agg(
            F.sum(F.col("clips_after_gain").cast("long")).alias(
                "n_clip_risk"
            )
        )
    )
    return (
        plan.join(risk, "codec")
        .select(
            "codec",
            "n_measurable",
            "median_lufs",
            "gain_db",
            "n_clip_risk",
            F.round(
                F.col("n_clip_risk") / F.col("n_measurable") + 1e-9, 4
            ).alias("clip_risk_frac"),
        )
        .orderBy("codec")
    )


def gain_plan_oracle(sf_dir: str) -> str:
    fx = features_path_for(sf_dir)
    clips = clips_path_for(sf_dir)
    return f"""
WITH m AS (
  SELECT c.codec, f.lufs, f.peak_dbfs
  FROM (SELECT clip_id, loud_lufs AS lufs, loud_peak_dbfs AS peak_dbfs,
               loud_ok
        FROM read_parquet('{fx}/*.parquet')) f
  JOIN (SELECT clip_id, codec FROM read_parquet('{clips}/*.parquet')) c
    USING (clip_id)
  WHERE f.loud_ok
), plan AS (
  SELECT codec, count(*)::BIGINT AS n_measurable,
         round(median(lufs) + 1e-9, 4) AS median_lufs,
         round({_GAIN_TARGET_LUFS} - round(median(lufs) + 1e-9, 4) + 1e-9, 4)
           AS gain_db
  FROM m GROUP BY codec
), risk AS (
  SELECT m.codec,
         sum(CASE WHEN m.peak_dbfs + p.gain_db > {_GAIN_CLIP_CEIL}
                  THEN 1 ELSE 0 END)::BIGINT AS n_clip_risk
  FROM m JOIN plan p USING (codec) GROUP BY m.codec
)
SELECT p.codec, p.n_measurable, p.median_lufs, p.gain_db, r.n_clip_risk,
       round(r.n_clip_risk::DOUBLE / p.n_measurable + 1e-9, 4)
         AS clip_risk_frac
FROM plan p JOIN risk r USING (codec) ORDER BY p.codec
"""


def audio_loudness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated program-loudness profile (operators/loudness.py) over ALL
    clips — BS.1770-style K-weighted, two-stage-gated integrated loudness,
    the level screen a speech corpus runs BEFORE normalization: ungated
    RMS over-boosts clips with long pauses, the gate tracks program
    material. Verdict bands: too_quiet (< −35 LUFS integrated),
    too_loud (> −10), ok, unmeasurable (silence / sub-block / low-rate).
    The spectral-K math replays through the fixture's shared
    ``clip_loudness`` columns; spec-anchor behavior (997 Hz full-scale
    sine ≈ −3 LUFS, gating tracks bursts) is pinned in
    tests/test_loudness.py."""
    stats = loudness.loudness_stats(load_clips(spark, sf_dir))
    verdict = (
        F.when(~F.col("loud_ok"), "unmeasurable")
        .when(F.col("lufs") < -35.0, "too_quiet")
        .when(F.col("lufs") > -10.0, "too_loud")
        .otherwise("ok")
    )
    return (
        stats.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("lufs") + 1e-9, 4).alias("avg_lufs"),
            F.round(F.avg("peak_dbfs") + 1e-9, 4).alias("avg_peak_dbfs"),
            F.round(
                F.avg(F.col("n_gated_blocks") / F.greatest(F.col("n_blocks"), F.lit(1)))
                + 1e-9,
                4,
            ).alias("avg_gated_frac"),
            F.round(F.avg("block_range_db") + 1e-9, 4).alias("avg_range_db"),
        )
        .orderBy("verdict")
    )


def loudness_gate_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH l AS (
  SELECT CASE WHEN NOT loud_ok THEN 'unmeasurable'
              WHEN loud_lufs < -35.0 THEN 'too_quiet'
              WHEN loud_lufs > -10.0 THEN 'too_loud'
              ELSE 'ok' END AS verdict,
         loud_lufs, loud_peak_dbfs, loud_range_db,
         loud_gated::DOUBLE / greatest(loud_blocks, 1) AS gated_frac
  FROM read_parquet('{path}/*.parquet')
)
SELECT verdict, count(*)::BIGINT AS n_clips,
       round(avg(loud_lufs) + 1e-9, 4) AS avg_lufs,
       round(avg(loud_peak_dbfs) + 1e-9, 4) AS avg_peak_dbfs,
       round(avg(gated_frac) + 1e-9, 4) AS avg_gated_frac,
       round(avg(loud_range_db) + 1e-9, 4) AS avg_range_db
FROM l GROUP BY 1 ORDER BY 1
"""


def audio_ols_speech_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS distributed least squares — fit
    ``n_speech_frames ≈ b0 + b1·n_frames + b2·n_chars`` over the VAD-able
    corpus by normal equations: a single map-side-combined aggregation
    collapses the corpus to ten EXACT integer sufficient statistics
    (n, Σx, ΣxᵀX, Σxy, Σy²), then Cramer's rule solves the 3×3 system in
    codegen over the one-row frame. Complements the ITERATIVE trainers
    (kmeans_train, classifier_train_logreg, bpe_train_merges): a linear
    model needs no rounds at all — data never moves, nothing is collected.

    Cross-engine determinism: the sufficient statistics are integer sums
    (order-independent, exact), and the solve applies the identical IEEE
    double expression to identical integers in both engines. At 10^12
    rows the Σx² accumulators approach int64 range — the scale path swaps
    the sums to decimal(38,0)/HUGEINT, same plan shape.

    Model-quality floor (R² strongly positive — speech frames really do
    track total frames) is pinned in tests/test_ols.py alongside an exact
    numpy lstsq replay.
    """
    v = vad.vad_stats(
        load_clips(spark, sf_dir).withColumn(
            "n_chars", F.coalesce(F.length("transcript"), F.lit(0))
        ),
        passthrough=("n_chars",),
    ).filter(F.col("vad_ok"))
    x1, x2, y = (
        F.col("n_frames").cast("long"),
        F.col("n_chars").cast("long"),
        F.col("n_speech_frames").cast("long"),
    )
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"),
        F.sum(x2).alias("sx2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("sx11"),
        F.sum(x1 * x2).alias("sx12"),
        F.sum(x2 * x2).alias("sx22"),
        F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"),
        F.sum(y * y).alias("syy"),
    )
    # identical double-precision solve expression as the oracle SQL below
    solved = s.select(
        "n",
        *[F.col(c).cast("double").alias(f"{c}_d") for c in (
            "sx1", "sx2", "sy", "sx11", "sx12", "sx22", "sx1y", "sx2y", "syy"
        )],
    ).selectExpr(
        "n",
        "sy_d", "sx1y_d", "sx2y_d", "syy_d",
        """(n * (sx11_d * sx22_d - sx12_d * sx12_d)
            - sx1_d * (sx1_d * sx22_d - sx12_d * sx2_d)
            + sx2_d * (sx1_d * sx12_d - sx11_d * sx2_d)) AS det""",
        """(sy_d * (sx11_d * sx22_d - sx12_d * sx12_d)
            - sx1_d * (sx1y_d * sx22_d - sx12_d * sx2y_d)
            + sx2_d * (sx1y_d * sx12_d - sx11_d * sx2y_d)) AS det0""",
        """(n * (sx1y_d * sx22_d - sx12_d * sx2y_d)
            - sy_d * (sx1_d * sx22_d - sx12_d * sx2_d)
            + sx2_d * (sx1_d * sx2y_d - sx1y_d * sx2_d)) AS det1""",
        """(n * (sx11_d * sx2y_d - sx1y_d * sx12_d)
            - sx1_d * (sx1_d * sx2y_d - sx1y_d * sx2_d)
            + sy_d * (sx1_d * sx12_d - sx11_d * sx2_d)) AS det2""",
    )
    b0, b1, b2 = (F.col("det0") / F.col("det"),
                  F.col("det1") / F.col("det"),
                  F.col("det2") / F.col("det"))
    sse = (F.col("syy_d")
           - b0 * F.col("sy_d") - b1 * F.col("sx1y_d") - b2 * F.col("sx2y_d"))
    sst = F.col("syy_d") - F.col("sy_d") * F.col("sy_d") / F.col("n")
    return solved.select(
        F.col("n").alias("n_clips"),
        F.round(b0 + 1e-9, 6).alias("b_intercept"),
        F.round(b1 + 1e-9, 6).alias("b_frames"),
        F.round(b2 + 1e-9, 6).alias("b_chars"),
        F.round(F.lit(1.0) - sse / sst + 1e-9, 6).alias("r2"),
    )


def ols_speech_model_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH s AS (
  SELECT count(*)::BIGINT AS n,
         sum(n_frames::BIGINT) AS sx1,
         sum(n_chars::BIGINT) AS sx2,
         sum(n_speech_frames::BIGINT) AS sy,
         sum(n_frames::BIGINT * n_frames::BIGINT) AS sx11,
         sum(n_frames::BIGINT * n_chars::BIGINT) AS sx12,
         sum(n_chars::BIGINT * n_chars::BIGINT) AS sx22,
         sum(n_frames::BIGINT * n_speech_frames::BIGINT) AS sx1y,
         sum(n_chars::BIGINT * n_speech_frames::BIGINT) AS sx2y,
         sum(n_speech_frames::BIGINT * n_speech_frames::BIGINT) AS syy
  FROM read_parquet('{path}/*.parquet') WHERE vad_ok
),
d AS (
  SELECT n,
         sx1::DOUBLE AS sx1_d, sx2::DOUBLE AS sx2_d, sy::DOUBLE AS sy_d,
         sx11::DOUBLE AS sx11_d, sx12::DOUBLE AS sx12_d,
         sx22::DOUBLE AS sx22_d, sx1y::DOUBLE AS sx1y_d,
         sx2y::DOUBLE AS sx2y_d, syy::DOUBLE AS syy_d
  FROM s
),
k AS (
  SELECT n, sy_d, sx1y_d, sx2y_d, syy_d,
         (n * (sx11_d * sx22_d - sx12_d * sx12_d)
          - sx1_d * (sx1_d * sx22_d - sx12_d * sx2_d)
          + sx2_d * (sx1_d * sx12_d - sx11_d * sx2_d)) AS det,
         (sy_d * (sx11_d * sx22_d - sx12_d * sx12_d)
          - sx1_d * (sx1y_d * sx22_d - sx12_d * sx2y_d)
          + sx2_d * (sx1y_d * sx12_d - sx11_d * sx2y_d)) AS det0,
         (n * (sx1y_d * sx22_d - sx12_d * sx2y_d)
          - sy_d * (sx1_d * sx22_d - sx12_d * sx2_d)
          + sx2_d * (sx1_d * sx2y_d - sx1y_d * sx2_d)) AS det1,
         (n * (sx11_d * sx2y_d - sx1y_d * sx12_d)
          - sx1_d * (sx1_d * sx2y_d - sx1y_d * sx2_d)
          + sy_d * (sx1_d * sx12_d - sx11_d * sx2_d)) AS det2
  FROM d
)
SELECT n AS n_clips,
       round(det0 / det + 1e-9, 6) AS b_intercept,
       round(det1 / det + 1e-9, 6) AS b_frames,
       round(det2 / det + 1e-9, 6) AS b_chars,
       round(1.0 - (syy_d - (det0 / det) * sy_d - (det1 / det) * sx1y_d
                    - (det2 / det) * sx2y_d)
                 / (syy_d - sy_d * sy_d / n) + 1e-9, 6) AS r2
FROM k
"""


def audio_pitch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F0/voicing statistics (operators/pitch.py) over ALL clips — the
    periodicity gate: hum/hiss/music beds carry transcripts but no voiced
    frames. Oracle replays from the fixture's shared ``clip_pitch``
    columns; tracker accuracy (tone F0 within lag quantization, noise and
    silence unvoiced, octave-error guard) is pinned in
    tests/test_pitch.py."""
    stats = pitch.pitch_stats(load_clips(spark, sf_dir))
    return (
        stats.groupBy("pitch_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_voiced").alias("total_voiced"),
            F.round(F.avg("voiced_ratio") + 1e-9, 4).alias("avg_voiced_ratio"),
            F.round(
                F.avg(F.when(F.col("n_voiced") > 0, F.col("mean_f0"))) + 1e-9,
                2,
            ).alias("avg_f0_voiced"),
        )
        .orderBy("pitch_ok")
    )


def pitch_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
SELECT pitch_ok, count(*)::BIGINT AS n_clips,
       sum(pitch_n_frames)::BIGINT AS total_frames,
       sum(pitch_n_voiced)::BIGINT AS total_voiced,
       round(avg(pitch_voiced_ratio) + 1e-9, 4) AS avg_voiced_ratio,
       round(avg(CASE WHEN pitch_n_voiced > 0 THEN pitch_mean_f0 END)
             + 1e-9, 2) AS avg_f0_voiced
FROM read_parquet('{path}/*.parquet')
GROUP BY 1 ORDER BY 1
"""


_ONSET_BAND_SQL = """CASE WHEN NOT on_ok THEN 'undecodable'
            WHEN on_onsets = 0 THEN 'static'
            WHEN on_rate < 1.0 THEN 'sparse'
            WHEN on_rate <= 9.0 THEN 'speechlike'
            ELSE 'impulsive' END"""


def audio_onset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-flux onset profile (operators/onset.py) over all clips —
    the event-structure gate: steady hum/hiss is ``static``/``sparse``,
    natural speech onsets arrive at the syllable rate (``speechlike``,
    1-9/s), and clicky/impulsive content (keyboard clatter, corrupted
    frames decoding as pops) lands in ``impulsive``. Complements the
    envelope-FFT syllable gate: the flux sees WHERE in the spectrum energy
    appears, so pitch glides and noise bursts register even when the
    energy envelope stays flat. One mapInPandas crossing, band classify in
    codegen; detector behavior pinned in tests/test_onset.py."""
    from ..operators import onset

    s = onset.onset_stats(load_clips(spark, sf_dir))
    band = (
        F.when(~F.col("on_ok"), "undecodable")
        .when(F.col("on_onsets") == 0, "static")
        .when(F.col("on_rate") < 1.0, "sparse")
        .when(F.col("on_rate") <= 9.0, "speechlike")
        .otherwise("impulsive")
    )
    return (
        s.withColumn("onset_band", band)
        .groupBy("onset_band")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("on_onsets").alias("total_onsets"),
            F.round(F.avg("on_rate") + 1e-9, 4).alias("avg_rate"),
            F.round(F.avg("on_flux_mean") + 1e-9, 4).alias("avg_flux"),
        )
        .orderBy("onset_band")
    )


def onset_stats_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH s AS (
  SELECT {_ONSET_BAND_SQL} AS onset_band,
         on_onsets, on_rate, on_flux_mean
  FROM read_parquet('{path}/*.parquet')
)
SELECT onset_band, count(*)::BIGINT AS n_clips,
       sum(on_onsets)::BIGINT AS total_onsets,
       round(avg(on_rate) + 1e-9, 4) AS avg_rate,
       round(avg(on_flux_mean) + 1e-9, 4) AS avg_flux
FROM s GROUP BY 1 ORDER BY 1
"""


def audio_declip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declip-repair report (operators/declip.py): saturated runs re-drawn
    with cubic Hermite segments — the payload analog of the reference's
    VALUE REPAIR (P15, ``main_app.py:84-96``) — summarized per severity
    band with how much the repair changed (runs/samples repaired, energy
    added, post-repair peak). ``heavy`` clips stay candidates for the
    ``audio_clipping`` drop rule: interpolation reports, it does not
    launder. One mapInPandas crossing, band classify in codegen; the
    reconstruction itself is pinned in tests/test_declip.py."""
    from ..operators import declip

    s = declip.declip_stats(load_clips(spark, sf_dir))
    band = (
        F.when(~F.col("dcl_ok"), "undecodable")
        .when(F.col("dcl_runs") == 0, "clean")
        .when(F.col("dcl_frac") <= 0.01, "light")
        .otherwise("heavy")
    )
    return (
        s.withColumn("repair_band", band)
        .groupBy("repair_band")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("dcl_runs").alias("total_runs"),
            F.sum("dcl_samples").alias("total_samples"),
            F.round(F.avg("dcl_energy_db") + 1e-9, 4).alias("avg_energy_db"),
            F.round(F.avg("dcl_peak") + 1e-9, 4).alias("avg_peak"),
        )
        .orderBy("repair_band")
    )


def declip_report_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH s AS (
  SELECT CASE WHEN NOT dcl_ok THEN 'undecodable'
              WHEN dcl_runs = 0 THEN 'clean'
              WHEN dcl_frac <= 0.01 THEN 'light'
              ELSE 'heavy' END AS repair_band,
         dcl_runs, dcl_samples, dcl_energy_db, dcl_peak
  FROM read_parquet('{path}/*.parquet')
)
SELECT repair_band, count(*)::BIGINT AS n_clips,
       sum(dcl_runs)::BIGINT AS total_runs,
       sum(dcl_samples)::BIGINT AS total_samples,
       round(avg(dcl_energy_db) + 1e-9, 4) AS avg_energy_db,
       round(avg(dcl_peak) + 1e-9, 4) AS avg_peak
FROM s GROUP BY 1 ORDER BY 1
"""


def audio_vad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-VAD speech stats (operators/vad.py) over all clips — the
    speech-content gate an ASR corpus applies before token-budget math.
    Summarized to a small stable relation for the driver's value-hash
    check; threshold/run/SNR behavior is pinned in tests/test_vad.py."""
    stats = vad.vad_stats(load_clips(spark, sf_dir))
    return (
        stats.groupBy("vad_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_speech_frames").alias("total_speech_frames"),
            F.round(F.avg("speech_ratio") + 1e-9, 4).alias("avg_speech_ratio"),
            F.round(F.avg("snr_db") + 1e-9, 2).alias("avg_snr_db"),
            F.sum("n_speech_runs").alias("total_runs"),
        )
        .orderBy("vad_ok")
    )


def audio_snr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SNR distribution (operators/vad.py's speech/noise-floor
    estimate) in the bands acquisition QC reads: studio (≥30 dB — the
    north-rule PCM-fidelity bar), clean, fair, noisy. The per-clip SNR is
    the VAD stage's speech-frame vs noise-frame energy ratio, so this is
    one mapInPandas projection + a codegen band classify; clips with no
    detected speech are ``unmeasurable`` (an SNR needs both signal and
    floor). Replayed through the fixture's snr_db/vad columns; threshold
    behavior pinned in tests/test_vad.py."""
    stats = vad.vad_stats(load_clips(spark, sf_dir))
    band = (
        F.when(
            ~F.col("vad_ok") | (F.col("n_speech_frames") == 0),
            "unmeasurable",
        )
        .when(F.col("snr_db") >= 30.0, "studio")
        .when(F.col("snr_db") >= 20.0, "clean")
        .when(F.col("snr_db") >= 10.0, "fair")
        .otherwise("noisy")
    )
    return (
        stats.withColumn("snr_band", band)
        .groupBy("snr_band")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("snr_db") + 1e-9, 2).alias("avg_snr_db"),
            F.round(F.avg("speech_ratio") + 1e-9, 4).alias(
                "avg_speech_ratio"
            ),
            F.sum("n_speech_runs").alias("total_runs"),
        )
        .orderBy("snr_band")
    )


def snr_profile_oracle(sf_dir: str) -> str:
    path = features_path_for(sf_dir)
    return f"""
WITH s AS (
  SELECT CASE WHEN NOT vad_ok OR n_speech_frames = 0 THEN 'unmeasurable'
              WHEN snr_db >= 30.0 THEN 'studio'
              WHEN snr_db >= 20.0 THEN 'clean'
              WHEN snr_db >= 10.0 THEN 'fair'
              ELSE 'noisy' END AS snr_band,
         snr_db, speech_ratio, n_speech_runs
  FROM read_parquet('{path}/*.parquet')
)
SELECT snr_band, count(*)::BIGINT AS n_clips,
       round(avg(snr_db) + 1e-9, 2) AS avg_snr_db,
       round(avg(speech_ratio) + 1e-9, 4) AS avg_speech_ratio,
       sum(n_speech_runs)::BIGINT AS total_runs
FROM s GROUP BY 1 ORDER BY 1
"""


def audio_speaking_rate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-vs-audio consistency gate: chars of transcript per second
    of DETECTED SPEECH (not clip duration) — the rate check ASR corpora use
    to catch transcript/audio mismatches (wrong file, truncated text,
    silence with a full transcript).  Zero-shuffle composition: n_chars is
    computed JVM-side before the VAD stage and passed through the UDF, so
    no self-join of the scan is needed; the cascade below is pure codegen.
    Oracle-checked via the fixture replay (speaking_rate_oracle); VAD
    internals pinned in tests/test_vad.py."""
    clips = load_clips(spark, sf_dir).withColumn(
        "n_chars", F.length(F.coalesce("transcript", F.lit("")))
    )
    stats = vad.vad_stats(clips, passthrough=("n_chars",))
    speech_s = F.col("n_speech_frames") * 0.010  # 10 ms hop
    rate = F.col("n_chars") / speech_s
    # thresholds split the SYNTHETIC corpus (whose transcripts are not
    # duration-correlated) into stable classes; real corpora would use
    # language-calibrated bounds (~8-45 chars/s for natural speech)
    classed = stats.withColumn(
        "rate_class",
        F.when(~F.col("vad_ok") | (F.col("n_speech_frames") == 0), "no_speech")
        .when(rate < 60.0, "too_slow")
        .when(rate > 400.0, "too_fast")
        .otherwise("ok"),
    )
    return (
        classed.groupBy("rate_class")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum(speech_s) + 1e-9, 2).alias("total_speech_s"),
        )
        .orderBy("rate_class")
    )


def audio_tonality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-shape gate (operators/spectral.py): Welch-averaged flatness /
    centroid / peak-share per clip, classified into no_signal /
    tonal_artifact / narrowband / broadband — the tonal-noise failure mode
    (hum, test tones, feedback) that energy VAD cannot see. Summarized per
    class for the driver's value-hash check; the class boundaries and
    gain-invariance are pinned in tests/test_spectral.py."""
    stats = spectral.classify_tonality(
        spectral.spectral_stats(load_clips(spark, sf_dir))
    )
    return (
        stats.groupBy("tonality")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("flatness") + 1e-9, 4).alias("avg_flatness"),
            F.round(F.avg("centroid_hz") + 1e-9, 1).alias("avg_centroid_hz"),
            F.round(F.avg("peak_share") + 1e-9, 4).alias("avg_peak_share"),
        )
        .orderBy("tonality")
    )


def _agreement_gates() -> dict[str, tuple[str, str]]:
    """The five independently-evaluated gate predicates, as (Spark-column
    source expression, DuckDB fixture expression) pairs sharing the SAME
    threshold constants as the production gates — defined once so the live
    plan and the oracle can never drift."""
    from ..config import DEFAULT_CONFIG
    from ..operators import spectral as sp
    from ..plans import curate as cu

    t = DEFAULT_CONFIG.thresholds
    return {
        "clipping": (f"clip_rate > {t.max_clip_rate}",) * 2,
        "dropout": (f"dropout_ms > {t.max_dropout_ms}",) * 2,
        "no_speech": (f"speech_ratio < {cu.MIN_SPEECH_RATIO}",) * 2,
        "silence": (f"rms < {t.min_rms}",) * 2,
        "tonal": (
            f"peak_share > {sp.TONAL_PEAK_SHARE} "
            f"AND flatness < {sp.TONAL_FLATNESS}",
        )
        * 2,
    }


def _kappa_select(count_src: str) -> str:
    """Shared SQL tail: per-pair Cohen's kappa + verdict from the four
    agreement counts (identical text runs in Spark selectExpr and DuckDB)."""
    return f"""
SELECT gate_a, gate_b, n11, n10, n01, n00,
       round((n11 + n00) / nn + 1e-9, 4) AS po,
       CASE WHEN abs(1.0 - pe) > 1e-12
            THEN round(((n11 + n00) / nn - pe) / (1.0 - pe) + 1e-9, 4)
            END AS kappa,
       CASE WHEN abs(1.0 - pe) <= 1e-12 THEN 'degenerate'
            WHEN round(((n11 + n00) / nn - pe) / (1.0 - pe) + 1e-9, 4)
                 >= 0.8 THEN 'redundant'
            WHEN round(((n11 + n00) / nn - pe) / (1.0 - pe) + 1e-9, 4)
                 <= 0.2 THEN 'independent'
            ELSE 'correlated' END AS verdict
FROM (
  SELECT gate_a, gate_b, n11, n10, n01, n00,
         (n11 + n10 + n01 + n00) * 1.0 AS nn,
         ((n11 + n10) * 1.0 / (n11 + n10 + n01 + n00))
           * ((n11 + n01) * 1.0 / (n11 + n10 + n01 + n00))
         + (1.0 - (n11 + n10) * 1.0 / (n11 + n10 + n01 + n00))
           * (1.0 - (n11 + n01) * 1.0 / (n11 + n10 + n01 + n00)) AS pe
  FROM {count_src}
) ORDER BY gate_a, gate_b
"""


def audio_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's-kappa agreement matrix between the five
    independently-evaluated audio gates (clipping / dropout / no_speech /
    silence / tonal) over the decodable corpus — the gate-portfolio audit:
    a near-1 kappa says two gates are redundant (retire one, save its
    compute), a near-0 kappa says they catch different failure modes, and
    the raw disagreement cells (n10/n01) are the clips to inspect when two
    gates that should agree don't.

    Scale shape: ONE decode of ONE scan (``quality_and_signals`` with
    ``signals_for_dropped=True`` — every gate must be evaluated on every
    decodable clip, not first-match-wins, or the counts measure cascade
    order instead of agreement); the 10 × 4 contingency counts collapse in
    a single map-side-combined aggregate to ONE row, reshaped by a 10-row
    ``stack`` — no join, no corpus-sized shuffle, kappa in codegen over 10
    rows. Gate predicates and thresholds are shared with the production
    gates via ``_agreement_gates``.

    Reference analog: the outcome counters of ``config/config.yml:32-36``
    lifted from per-rule counts to between-rule association.
    """
    return gate_agreement(spark, load_clips(spark, sf_dir))


def gate_agreement(spark: SparkSession, clips: DataFrame) -> DataFrame:
    """Core of ``audio_gate_agreement`` over an explicit clips frame
    (behavior-tested on planted clips in tests/test_gate_agreement.py)."""
    import itertools

    from ..operators.audio_signals import quality_and_signals

    gates = _agreement_gates()
    names = sorted(gates)
    pairs = list(itertools.combinations(names, 2))
    s = quality_and_signals(clips, signals_for_dropped=True)
    flags = s.filter(
        F.col("pcm_ok") & F.col("sig_ok") & F.col("spec_ok")
    ).selectExpr(*[f"({gates[g][0]}) AS {g}" for g in names])
    aggs = []
    for a, b in pairs:
        for suf, expr in (
            ("n11", f"{a} AND {b}"),
            ("n10", f"{a} AND NOT {b}"),
            ("n01", f"NOT {a} AND {b}"),
            ("n00", f"NOT {a} AND NOT {b}"),
        ):
            aggs.append(
                F.sum(F.expr(expr).cast("long")).alias(f"{a}__{b}__{suf}")
            )
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', {a}__{b}__n11, {a}__{b}__n10, "
        f"{a}__{b}__n01, {a}__{b}__n00"
        for a, b in pairs
    )
    counts = one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS "
        "(gate_a, gate_b, n11, n10, n01, n00)"
    )
    counts.createOrReplaceTempView("gate_agreement_counts")
    return spark.sql(_kappa_select("gate_agreement_counts"))


def gate_agreement_oracle(sf_dir: str) -> str:
    import itertools

    gates = _agreement_gates()
    names = sorted(gates)
    path = features_path_for(sf_dir)
    pair_selects = "\n  UNION ALL\n".join(
        f"""  SELECT '{a}' AS gate_a, '{b}' AS gate_b,
    sum(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END)::BIGINT AS n11,
    sum(CASE WHEN {a} AND NOT {b} THEN 1 ELSE 0 END)::BIGINT AS n10,
    sum(CASE WHEN NOT {a} AND {b} THEN 1 ELSE 0 END)::BIGINT AS n01,
    sum(CASE WHEN NOT {a} AND NOT {b} THEN 1 ELSE 0 END)::BIGINT AS n00
  FROM f"""
        for a, b in itertools.combinations(names, 2)
    )
    gate_cols = ",\n         ".join(
        f"({gates[g][1]}) AS {g}" for g in names
    )
    return f"""
WITH f AS (
  SELECT {gate_cols}
  FROM read_parquet('{path}/*.parquet')
  WHERE pcm_ok AND vad_ok AND spec_ok
),
counts AS (
{pair_selects}
)
{_kappa_select("counts")}
"""


def audio_trim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-endpoint silence trimming (operators/trim.py) over kept clips —
    the corpus-shrinking preprocessing step before segmentation. Summarized
    as total before/after duration and the saved fraction; slice exactness,
    interior-pause preservation, and idempotence are pinned in
    tests/test_trim.py."""
    from ..operators import trim

    t = trim.trim_silence(_kept_clips(spark, sf_dir))
    return (
        t.groupBy("trim_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("dur_ms_in").alias("dur_ms_in"),
            F.sum("dur_ms_out").alias("dur_ms_out"),
            F.round(
                1.0 - F.sum("dur_ms_out") / F.sum("dur_ms_in") + 1e-9, 4
            ).alias("saved_frac"),
        )
        .orderBy("trim_ok")
    )


def audio_dropout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digital-dropout severity profile over all clips: the longest
    sub-noise-floor sample run per clip (functions/audio.py
    ``decode_features``), bucketed into severity classes around the
    cascade's ``max_dropout_ms`` threshold. The ``dropout`` class is what
    the flagship's ``audio_dropout`` rule rejects; ``quiet_audio`` clips
    (whole-clip quiet run) fall to ``audio_silence`` upstream. Rows-only;
    run-length exactness is pinned in tests/test_audio.py.

    Spark shape: the flagship's mapInArrow feature stage on the scan
    (payload dies in the worker), codegen class cascade, one tiny
    aggregation."""
    from ..config import DEFAULT_CONFIG
    from ..operators.fused_stage import with_fused_features

    t = DEFAULT_CONFIG.thresholds
    feats = with_fused_features(load_clips(spark, sf_dir))
    classed = feats.withColumn(
        "dropout_class",
        F.when(~F.col("pcm_ok"), "undecodable")
        .when(
            F.col("dropout_ms") >= F.col("dur_ms_meas") * 0.95, "quiet_audio"
        )
        .when(F.col("dropout_ms") > t.max_dropout_ms, "dropout")
        .when(F.col("dropout_ms") > 5.0, "minor_gap")
        .otherwise("clean"),
    )
    return (
        classed.groupBy("dropout_class")
        .agg(
            F.count("*").alias("n_clips"),
            F.round(F.avg("dropout_ms") + 1e-9, 2).alias("avg_dropout_ms"),
            F.round(F.max("dropout_ms") + 1e-9, 2).alias("max_dropout_ms"),
        )
        .orderBy("dropout_class")
    )


def curation_funnel_oracle(sf_dir: str) -> str:
    """DuckDB oracle for the END-TO-END curation funnel: quality keep (the
    labeler's decision), audio gates (signal fields from the fixture), the
    LSH-banded fingerprint dedup (same SQL replay as the fingerprint
    oracle), and the engine-portable md5 split — the whole DAG's stage
    histogram recomputed independently. Constants injected from
    plans/curate.py and operators/spectral.py (single source)."""
    from ..operators import spectral as sp
    from ..plans import curate as cu

    path = features_path_for(sf_dir)
    return f"""
WITH fix AS (
  SELECT * FROM read_parquet('{path}/*.parquet')
),
gated AS (
  SELECT clip_id, keep, fp_ok, fp,
    CASE WHEN NOT keep THEN NULL
         WHEN NOT vad_ok THEN '2_undecodable'
         WHEN spec_ok AND peak_share > {sp.TONAL_PEAK_SHARE}
              AND flatness < {sp.TONAL_FLATNESS} THEN '2_tonal_artifact'
         WHEN speech_ratio < {cu.MIN_SPEECH_RATIO} THEN '2_no_speech'
         ELSE NULL END AS gate_stage
  FROM fix
),
passed AS (
  SELECT clip_id, fp FROM gated
  WHERE keep AND gate_stage IS NULL AND fp_ok
),
bands AS (
  SELECT clip_id, fp, b.band_idx,
         (fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM passed, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
live AS (SELECT * FROM bands WHERE band_bits != 0),
losers AS (
  SELECT DISTINCT r.clip_id
  FROM live l JOIN live r
    ON l.band_idx = r.band_idx AND l.band_bits = r.band_bits
   AND l.clip_id < r.clip_id
  WHERE bit_count(xor(l.fp, r.fp)) <= {cu.MAX_HAMMING}
),
staged AS (
  SELECT CASE
    WHEN NOT g.keep THEN '1_quality_dropped'
    WHEN g.gate_stage IS NOT NULL THEN g.gate_stage
    WHEN lo.clip_id IS NOT NULL THEN '3_neardup_dropped'
    ELSE '4_' || (CASE
      WHEN ('0x' || substr(md5(g.clip_id), 1, 12))::BIGINT
           % {cu.SPLIT_BUCKETS} < {cu.TRAIN_LT} THEN 'train'
      WHEN ('0x' || substr(md5(g.clip_id), 1, 12))::BIGINT
           % {cu.SPLIT_BUCKETS} < {cu.VALID_LT} THEN 'valid'
      ELSE 'test' END)
    END AS stage
  FROM gated g LEFT JOIN losers lo ON g.clip_id = lo.clip_id
)
SELECT stage, count(*)::BIGINT AS n_clips
FROM staged GROUP BY stage ORDER BY stage
"""


def clips_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full end-to-end curation DAG (plans/curate.py): quality filter →
    one-decode audio gate pass (fingerprint+VAD+spectral,
    operators/audio_signals.py) → LSH fingerprint dedup → deterministic
    train/valid/test split — every input clip labeled with the FIRST stage
    that dropped it, in ONE plan (keyed equi-joins, single groupBy).
    Rows-only; stage composition and shard export are pinned end-to-end in
    tests/test_curate.py."""
    from ..plans.curate import curation_funnel

    return curation_funnel(load_clips(spark, sf_dir))


def audio_speed_perturb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way speed perturbation (operators/augment.py) over kept clips —
    the corpus-tripling augmentation step after quality filtering.
    Summarized per factor for the driver's value-hash check; per-payload
    duration/identity/resample invariants are pinned in
    tests/test_augment.py."""
    clips = _kept_clips(spark, sf_dir)
    aug = augment.speed_perturb(clips, factors=(0.9, 1.0, 1.1))
    return (
        aug.groupBy("factor")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("dur_ms_out").alias("total_dur_ms"),
            F.sum(F.length("aug_bytes")).alias("payload_bytes"),
            F.round(F.avg("out_rms") + 1e-9, 4).alias("avg_rms"),
        )
        .orderBy("factor")
    )


def audio_noise_mix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noise-mix augmentation (operators/augment.py::noise_mix) over kept
    clips at 20 dB SNR, summarized for the driver's value-hash check;
    achieved-SNR and content-seeded determinism are pinned in
    tests/test_augment.py."""
    mixed = augment.noise_mix(_kept_clips(spark, sf_dir), snr_db=20.0)
    return (
        mixed.groupBy("mix_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.length("aug_bytes")).alias("payload_bytes"),
            F.round(F.avg("out_rms") + 1e-9, 4).alias("avg_rms"),
        )
        .orderBy("mix_ok")
    )


def audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-rate conversion (operators/resample.py) over the whole
    corpus: every clip normalized to 16 kHz pcm_s16le, profiled per
    conversion path — passthrough (byte-exact), upsample_linear,
    downsample_fir (anti-aliased), plus the undecodable/rateless
    containment classes. Anti-alias attenuation, passthrough losslessness
    and determinism are pinned in tests/test_resample.py.

    Spark shape: one mapInPandas projection on the scan (payloads convert
    and die in the worker), codegen aggregation on the scalar stats."""
    from ..operators import resample

    rs = resample.resample_clips(load_clips(spark, sf_dir))
    return (
        rs.groupBy("rs_method")
        .agg(
            F.count("*").alias("n_clips"),
            F.coalesce(
                F.sum(F.length("rs_bytes")), F.lit(0).cast("long")
            ).alias("payload_bytes"),
            F.sum("dur_ms_out").alias("dur_ms_out"),
            F.round(F.avg("rs_rms") + 1e-9, 4).alias("avg_rms"),
        )
        .orderBy("rs_method")
    )


def audio_specaugment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpecAugment time/frequency masking (operators/specaugment.py) over
    kept clips: content-seeded deterministic masks on the filterbank
    tensors, profiled as masked-cell volume and post-mask log-energy.
    Mask-geometry determinism, feature-math identity with
    operators/features.py, and replay equality are pinned in
    tests/test_specaugment.py."""
    from ..operators import specaugment

    sa = specaugment.specaugment_features(_kept_clips(spark, sf_dir))
    return (
        sa.groupBy("sa_ok")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("masked_cells").alias("masked_cells"),
            F.round(F.avg("masked_frac") + 1e-9, 6).alias("avg_masked_frac"),
            F.round(F.avg("mean_after") + 1e-9, 3).alias(
                "avg_log_energy_after"
            ),
        )
        .orderBy("sa_ok")
    )


# dims of the per-clip acoustic embedding used for the Fréchet distance —
# the first three MFCC means (the fixture's mfcc_c0..c2 replay columns)
_FAD_DIMS = ("c0_mean", "c1_mean", "c2_mean")


def audio_fad_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Fréchet Audio Distance per codec family — the
    corpus-drift metric FAD (Kilgour et al. 2019) computes between feature
    Gaussians, restricted to independent dims so it stays in closed form:
    ``Σ_d (μ_g,d − μ_r,d)² + (σ_g,d − σ_r,d)²`` between each codec group's
    per-clip MFCC-mean embedding and the corpus-wide reference Gaussian.
    An ingestion path whose clips drift acoustically (different spectral
    tilt, energy, band shape) shows up as a large FAD against the corpus
    even when every per-clip gate passes — the distribution-level QC the
    per-clip gates cannot see.

    Scale shape: the MFCC pass is the one Arrow crossing (tensor bytes
    dropped before any join); codec attaches by a slim clip_id equi-join;
    then TWO tiny aggregations (per-codec moments, corpus moments as a
    1-row broadcast cross join) and pure-codegen closed-form arithmetic.
    Moments use the identical avg(x)/avg(x²) expression trees in both
    engines so the doubles agree to rounding; σ = sqrt(max(var, 0)) guards
    the degenerate one-clip group.

    Replay: the fixture's mfcc_c0..c2 columns joined to the cached clips
    parquet's codec (the audio_gain_plan pattern).
    """
    codecs = load_clips(spark, sf_dir).select("clip_id", "codec")
    m = (
        mfcc.mfcc_frames(load_clips(spark, sf_dir))
        .filter(F.col("mfcc_ok"))
        .select("clip_id", *_FAD_DIMS)
        .join(codecs, "clip_id")
    )
    return _fad_relation(m)


def _fad_relation(m: DataFrame) -> DataFrame:
    """Closed-form diagonal Fréchet distance per codec group vs the whole
    frame as reference — factored out so the arithmetic is pinned on
    planted distributions in tests/test_fad.py."""
    moment_aggs = []
    for i, d in enumerate(_FAD_DIMS):
        moment_aggs += [
            F.avg(F.col(d)).alias(f"mu{i}"),
            F.avg(F.col(d) * F.col(d)).alias(f"m2{i}"),
        ]
    per_codec = m.groupBy("codec").agg(
        F.count("*").alias("n_clips"), *moment_aggs
    )
    ref = m.agg(
        *[
            F.avg(F.col(d)).alias(f"rmu{i}")
            for i, d in enumerate(_FAD_DIMS)
        ],
        *[
            F.avg(F.col(d) * F.col(d)).alias(f"rm2{i}")
            for i, d in enumerate(_FAD_DIMS)
        ],
    )
    joined = per_codec.crossJoin(F.broadcast(ref))

    def _sigma(mu: str, m2: str) -> F.Column:
        return F.sqrt(
            F.greatest(F.col(m2) - F.col(mu) * F.col(mu), F.lit(0.0))
        )

    fad = sum(
        (
            (F.col(f"mu{i}") - F.col(f"rmu{i}"))
            * (F.col(f"mu{i}") - F.col(f"rmu{i}"))
            + (_sigma(f"mu{i}", f"m2{i}") - _sigma(f"rmu{i}", f"rm2{i}"))
            * (_sigma(f"mu{i}", f"m2{i}") - _sigma(f"rmu{i}", f"rm2{i}"))
        )
        for i in range(len(_FAD_DIMS))
    )
    mean_shift = F.sqrt(
        sum(
            (F.col(f"mu{i}") - F.col(f"rmu{i}"))
            * (F.col(f"mu{i}") - F.col(f"rmu{i}"))
            for i in range(len(_FAD_DIMS))
        )
    )
    return joined.select(
        "codec",
        "n_clips",
        F.round(fad + 1e-9, 4).alias("fad_diag"),
        F.round(mean_shift + 1e-9, 4).alias("mean_shift"),
    ).orderBy("codec")


def fad_diag_oracle(sf_dir: str) -> str:
    fx = features_path_for(sf_dir)
    clips = clips_path_for(sf_dir)
    dims = ["mfcc_c0", "mfcc_c1", "mfcc_c2"]
    mus = ", ".join(
        f"avg({d}) AS mu{i}, avg({d}*{d}) AS m2{i}"
        for i, d in enumerate(dims)
    )
    rmus = ", ".join(
        f"avg({d}) AS rmu{i}, avg({d}*{d}) AS rm2{i}"
        for i, d in enumerate(dims)
    )
    sig = lambda mu, m2: f"sqrt(greatest({m2} - {mu}*{mu}, 0.0))"  # noqa: E731
    fad_terms = " + ".join(
        f"(mu{i} - rmu{i})*(mu{i} - rmu{i})"
        f" + ({sig(f'mu{i}', f'm2{i}')} - {sig(f'rmu{i}', f'rm2{i}')})"
        f"*({sig(f'mu{i}', f'm2{i}')} - {sig(f'rmu{i}', f'rm2{i}')})"
        for i in range(len(dims))
    )
    shift_terms = " + ".join(
        f"(mu{i} - rmu{i})*(mu{i} - rmu{i})" for i in range(len(dims))
    )
    return f"""
WITH m AS (
  SELECT c.codec, f.mfcc_c0, f.mfcc_c1, f.mfcc_c2
  FROM read_parquet('{fx}/*.parquet') f
  JOIN (SELECT clip_id, codec FROM read_parquet('{clips}/*.parquet')) c
    USING (clip_id)
  WHERE f.mfcc_ok
), g AS (
  SELECT codec, count(*)::BIGINT AS n_clips, {mus} FROM m GROUP BY codec
), r AS (
  SELECT {rmus} FROM m
)
SELECT codec, n_clips,
       round({fad_terms} + 1e-9, 4) AS fad_diag,
       round(sqrt({shift_terms}) + 1e-9, 4) AS mean_shift
FROM g CROSS JOIN r ORDER BY codec
"""


QUERIES = {
    "clips_quality_filter": clips_quality_filter,
    "clips_quality_filter_sql": clips_quality_filter_sql,
    "clips_metrics": clips_metrics,
    "multimodal_media_meta": multimodal_media_meta,
    "multimodal_pixel_stats": multimodal_pixel_stats,
    "multimodal_video_frames": multimodal_video_frames,
    "multimodal_image_resize": multimodal_image_resize,
    "multimodal_jpeg_pixels": multimodal_jpeg_pixels,
    "multimodal_image_quality": multimodal_image_quality,
    "clips_duration_histogram": clips_duration_histogram,
    "clips_waveform_preview": clips_waveform_preview,
    "clips_spectrogram_preview": clips_spectrogram_preview,
    "audio_fingerprint_neardup": audio_fingerprint_neardup,
    "audio_segment_stats": audio_segment_stats,
    "audio_normalize_stats": audio_normalize_stats,
    "audio_feature_stats": audio_feature_stats,
    "audio_bandwidth_gate": audio_bandwidth_gate,
    "audio_syllable_rate_gate": audio_syllable_rate_gate,
    "transcript_compression_gate": transcript_compression_gate,
    "clips_token_budget_report": clips_token_budget_report,
    "audio_health_gate": audio_health_gate,
    "audio_transcode_migration": audio_transcode_migration,
    "clips_leakage_free_split": clips_leakage_free_split,
    "audio_decontaminate_eval": audio_decontaminate_eval,
    "audio_reverb_gate": audio_reverb_gate,
    "audio_hum_gate": audio_hum_gate,
    "audio_loudness_gate": audio_loudness_gate,
    "audio_gain_plan": audio_gain_plan,
    "audio_ols_speech_model": audio_ols_speech_model,
    "audio_mfcc_stats": audio_mfcc_stats,
    "audio_fad_diag": audio_fad_diag,
    "audio_pitch_stats": audio_pitch_stats,
    "audio_vad_stats": audio_vad_stats,
    "audio_snr_profile": audio_snr_profile,
    "audio_tonality_gate": audio_tonality_gate,
    "audio_gate_agreement": audio_gate_agreement,
    "audio_onset_stats": audio_onset_stats,
    "audio_declip_report": audio_declip_report,
    "clips_curation_funnel": clips_curation_funnel,
    "audio_trim_stats": audio_trim_stats,
    "audio_speed_perturb_stats": audio_speed_perturb_stats,
    "audio_speaking_rate_gate": audio_speaking_rate_gate,
    "audio_noise_mix_stats": audio_noise_mix_stats,
    "audio_dropout_stats": audio_dropout_stats,
    "audio_resample_stats": audio_resample_stats,
    "audio_specaugment_stats": audio_specaugment_stats,
}

# static ORACLE stays empty: the clips oracles embed an sf-dependent
# fixture path, so they are BUILT at oracle_sql() time from this registry
# (one row per fixture-backed query; __spark_entry__ bakes the driver's
# sf0.01, scripts/check_oracle.py re-derives for other scales)
ORACLE: dict[str, str] = {}

CLIPS_ORACLE_BUILDERS = {
    "multimodal_media_meta": media_meta_oracle,
    "multimodal_pixel_stats": png_pixel_oracle,
    "multimodal_video_frames": video_frames_oracle,
    "multimodal_image_resize": image_resize_oracle,
    "multimodal_jpeg_pixels": jpeg_pixel_oracle,
    "multimodal_image_quality": image_quality_oracle,
    "clips_duration_histogram": duration_histogram_oracle,
    "audio_dropout_stats": dropout_stats_oracle,
    "audio_vad_stats": vad_stats_oracle,
    "audio_snr_profile": snr_profile_oracle,
    "clips_quality_filter": quality_filter_oracle,
    "clips_quality_filter_sql": quality_filter_oracle,
    "clips_metrics": metrics_oracle,
    "audio_speaking_rate_gate": speaking_rate_oracle,
    "audio_fingerprint_neardup": fingerprint_neardup_oracle,
    "clips_waveform_preview": waveform_preview_oracle,
    "clips_spectrogram_preview": spectrogram_preview_oracle,
    "audio_segment_stats": segment_stats_oracle,
    "audio_normalize_stats": normalize_stats_oracle,
    "audio_feature_stats": feature_stats_oracle,
    "audio_bandwidth_gate": bandwidth_gate_oracle,
    "audio_syllable_rate_gate": syllable_rate_oracle,
    "transcript_compression_gate": transcript_compression_oracle,
    "clips_token_budget_report": token_budget_oracle,
    "audio_health_gate": health_gate_oracle,
    "audio_transcode_migration": transcode_migration_oracle,
    "clips_leakage_free_split": leakage_free_split_oracle,
    "audio_decontaminate_eval": decontaminate_eval_oracle,
    "audio_reverb_gate": reverb_gate_oracle,
    "audio_hum_gate": hum_gate_oracle,
    "audio_loudness_gate": loudness_gate_oracle,
    "audio_gain_plan": gain_plan_oracle,
    "audio_ols_speech_model": ols_speech_model_oracle,
    "audio_mfcc_stats": mfcc_stats_oracle,
    "audio_fad_diag": fad_diag_oracle,
    "audio_pitch_stats": pitch_stats_oracle,
    "audio_trim_stats": trim_stats_oracle,
    "audio_tonality_gate": tonality_gate_oracle,
    "audio_gate_agreement": gate_agreement_oracle,
    "audio_onset_stats": onset_stats_oracle,
    "audio_declip_report": declip_report_oracle,
    "audio_speed_perturb_stats": speed_perturb_oracle,
    "audio_noise_mix_stats": noise_mix_oracle,
    "clips_curation_funnel": curation_funnel_oracle,
    "audio_resample_stats": resample_stats_oracle,
    "audio_specaugment_stats": specaugment_oracle,
}

# registry-wide aggregation name (queries/__init__.py collects the
# per-module ORACLE_BUILDERS dicts; CLIPS_ORACLE_BUILDERS kept as the
# historical alias used by scripts and docs)
ORACLE_BUILDERS = CLIPS_ORACLE_BUILDERS
