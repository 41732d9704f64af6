"""Video frame-sampling over opaque binary payloads (multimodal column).

The third multimodal modality beside images (operators/multimodal.py) and
audio (operators/fused_stage.py): treat video as an opaque ``binary`` column
with typed header metadata, and implement frame-sample + per-frame feature
extraction as an Arrow-batched ``mapInPandas`` worker. No video codec
exists in this container, so the container format is the repo's own
deterministic raw layout (``datagen.generate_video_rows`` — 'RVID' magic,
big-endian header, uncompressed gray8 frame planes); the Spark-side
plumbing is the real deliverable and is fully exercised: codegen magic
prefilter so only video payloads cross the Arrow boundary, header parse,
bounds-guarded frame math, zero-copy strided per-frame stats, one→many
explode (one row per SAMPLED frame), and error containment for truncated /
zero-geometry / empty payloads. Swapping in a real codec changes ONE
function (``_parse_rvid``), not the plan shape.

Reference analog: the per-file preview/derived-artifact pass
(``wallaby2caom2/preview_augmentation.py:77-97``) — derive small typed
records from an opaque payload, contain per-item failures, never let the
payload itself travel further than the worker.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .multimodal import _magic_prefilter

_MAGIC = b"RVID"
_HEADER_LEN = 14  # magic(4) + u16 w + u16 h + u16 fps + u32 n_frames
# hostile-header guard, mirroring the audio decoder's 64M-sample bound: a
# forged header must not make the worker allocate/iterate unbounded
_MAX_TOTAL_PX = 64 * 1024 * 1024

FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frames_avail", T.IntegerType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def _parse_rvid(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """header → (w, h, fps, declared_frames, frames_avail), or None if the
    header itself is unreadable. ``frames_avail`` counts the FULL frame
    planes actually present — geometry is a header fact, frames are not
    (mirrors the image operators' header-vs-decode contract)."""
    if len(payload) < _HEADER_LEN or payload[:4] != _MAGIC:
        return None
    w, h, fps, declared = struct.unpack_from(">HHHI", payload, 4)
    frame_px = w * h
    if frame_px == 0 or frame_px * max(declared, 1) > _MAX_TOTAL_PX:
        return (w, h, fps, declared, 0)
    avail = min(declared, (len(payload) - _HEADER_LEN) // frame_px)
    return (w, h, fps, declared, avail)


def extract_frame_stats(
    every_k: int,
) -> "callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]":
    """Worker factory: (clip_id, bytes) → one row per sampled frame
    (indices 0, k, 2k, … below ``frames_avail``) with exact integer pixel
    stats; payloads whose header parses but whose frames are short/absent
    emit ONE geometry row with NULL frame fields (decode_ok=false), so
    every video payload is accounted for downstream."""

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                f.name: [] for f in FRAME_STATS_SCHEMA.fields
            }
            for cid, raw in zip(pdf["clip_id"], pdf["bytes"]):
                payload = bytes(raw) if raw is not None else b""
                parsed = _parse_rvid(payload)
                if parsed is None:
                    continue  # prefilter guard: not a video payload
                w, h, fps, declared, avail = parsed
                ok = avail == declared and declared > 0
                if avail == 0:
                    _append(out, cid, w, h, fps, declared, avail, ok,
                            None, None, None, None)
                    continue
                frame_px = w * h
                # zero-copy view of the available frame planes
                planes = np.frombuffer(
                    payload, dtype=np.uint8, count=avail * frame_px,
                    offset=_HEADER_LEN,
                ).reshape(avail, frame_px)
                for f_idx in range(0, avail, every_k):
                    plane = planes[f_idx]
                    _append(
                        out, cid, w, h, fps, declared, avail, ok, f_idx,
                        int(plane.sum(dtype=np.int64)),
                        int(plane.min()), int(plane.max()),
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAME_STATS_SCHEMA]
            )

    return worker


def _append(out, cid, w, h, fps, declared, avail, ok, f_idx, s, mn, mx):
    out["clip_id"].append(cid)
    out["width"].append(int(w))
    out["height"].append(int(h))
    out["fps"].append(int(fps))
    out["n_frames"].append(int(declared))
    out["frames_avail"].append(int(avail))
    out["decode_ok"].append(bool(ok))
    out["frame_idx"].append(f_idx)
    out["px_sum"].append(s)
    out["px_min"].append(mn)
    out["px_max"].append(mx)


def frame_sample_stats(df: DataFrame, every_k: int = 3) -> DataFrame:
    """(clip_id, bytes) → per-sampled-frame pixel stats for video rows.

    Non-video rows are dropped JVM-side by the magic prefilter (at 100 TB
    the dominant cost is payloads crossing Arrow); the mean is derived in
    codegen from the worker's exact integers, the same single-place float
    convention as the image operators."""
    if every_k <= 0:
        raise ValueError(f"every_k must be positive, got {every_k}")
    stats = _magic_prefilter(
        df.select("clip_id", "bytes"), _MAGIC
    ).mapInPandas(extract_frame_stats(every_k), FRAME_STATS_SCHEMA)
    return stats.withColumn(
        "px_mean",
        F.round(
            F.col("px_sum") / (F.col("width") * F.col("height"))
            + F.lit(1e-9),
            6,
        ),
    )
