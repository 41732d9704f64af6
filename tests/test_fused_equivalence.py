"""The quality-feature kernel and its adapters.

``features_batch`` is checked against the serial oracle labeler without
Spark; the two Spark adapters (mapInArrow, payload-retaining scalar UDF) and
``kept_clips`` are checked against each other and against ``quality_filter``.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from wallaby2caom2_spark import datagen, oracle
from wallaby2caom2_spark.functions import scrub
from wallaby2caom2_spark.operators.fused_stage import (
    FEATURE_FIELDS,
    _binary_views,
    features_batch,
)
from wallaby2caom2_spark.plans.pipeline import quality_filter

# the kernel fields the oracle labeler also reports (scrub is masked there)
ORACLE_FIELDS = [
    "pcm_ok", "sr_meas", "dur_ms_meas", "rms", "clip_rate", "dropout_ms",
    "lang", "lang_conf", "ppl",
]


def _kernel_rows(payloads, rows):
    feats = features_batch(
        payloads,
        [r["codec"] for r in rows],
        [r["sr_hz"] for r in rows],
        [r["transcript"] for r in rows],
    )
    assert list(feats) == [f.name for f in FEATURE_FIELDS]
    return [dict(zip(feats, vals)) for vals in zip(*feats.values())]


@pytest.fixture(scope="module")
def edge_rows():
    rows = list(datagen.generate_rows(200, seed=11))
    rows[0]["sr_hz"] = None
    rows[1]["sr_hz"] = float("nan")  # NULL as pandas hands it over
    rows[2]["transcript"] = None
    rows[3]["bytes"] = None
    rows[4]["bytes"] = rows[4]["bytes"][:30]  # truncated container
    rows[5]["bytes"] = rows[5]["bytes"][:-1]  # odd-length PCM/WAV tail
    rows[6]["codec"] = None
    return rows


def test_features_batch_matches_oracle(edge_rows):
    """Every kernel field equals the serial labeler's value for the same
    row, including NULL declared rates, NULL transcripts, NULL and
    truncated payloads; the unmasked scrub output equals scrub_one."""
    got = _kernel_rows([r["bytes"] for r in edge_rows], edge_rows)
    for row, feats in zip(edge_rows, got):
        sr = row["sr_hz"]
        exp = oracle.label_row({**row, "sr_hz": None if sr != sr else sr})
        assert {k: feats[k] for k in ORACLE_FIELDS} == {
            k: exp[k] for k in ORACLE_FIELDS
        }, row["clip_id"]
        assert (feats["scrubbed_all"], feats["scrub_edits_all"]) == scrub.scrub_one(
            row["transcript"]
        )
    assert not got[3]["pcm_ok"] and not got[4]["pcm_ok"]


def test_features_batch_payload_layouts(edge_rows):
    """bytes, memoryviews and zero-copy views of plain, sliced and
    large_binary Arrow arrays all give the same features."""
    payloads = [r["bytes"] for r in edge_rows]
    expect = _kernel_rows(payloads, edge_rows)
    views = [None if p is None else memoryview(p) for p in payloads]
    assert _kernel_rows(views, edge_rows) == expect
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(payloads, type=typ)
        assert _kernel_rows(_binary_views(arr), edge_rows) == expect
        sl = arr.slice(2, 50)
        assert _kernel_rows(_binary_views(sl), edge_rows[2:52]) == expect[2:52]


def test_kept_clips_matches_quality_filter(spark, clips_df):
    """The zero-Exchange narrow recompute (scalar fused UDF + codegen
    cascade) must select EXACTLY the quality_filter keep set and return the
    original payload rows unchanged."""
    from pyspark.sql import functions as F

    from wallaby2caom2_spark.plans.pipeline import kept_clips

    expect = {
        r["clip_id"]
        for r in quality_filter(clips_df).filter(F.col("keep")).collect()
    }
    got = kept_clips(clips_df).collect()
    assert {r["clip_id"] for r in got} == expect
    assert set(kept_clips(clips_df).columns) == set(clips_df.columns)
    # payload fidelity: rows are the source rows, not a re-encode
    src = {r["clip_id"]: r["bytes"] for r in clips_df.collect()}
    for r in got:
        assert r["bytes"] == src[r["clip_id"]]


def test_retaining_scalar_udf_equals_maparrow_stage(spark, clips_df):
    """with_fused_features_retaining (scalar pandas UDF, payload kept
    JVM-side) must emit the identical feature struct as the flagship's
    mapInArrow fused stage for every clip."""
    from wallaby2caom2_spark.operators.fused_stage import (
        with_fused_features,
        with_fused_features_retaining,
    )

    feat_cols = [
        "pcm_ok", "sr_meas", "dur_ms_meas", "rms", "clip_rate", "dropout_ms",
        "lang", "lang_conf", "ppl", "scrubbed_all", "scrub_edits_all",
    ]

    def by_id(df):
        return {
            r["clip_id"]: tuple(r[c] for c in feat_cols)
            for r in df.select("clip_id", *feat_cols).collect()
        }

    arrow_form = by_id(with_fused_features(clips_df))
    scalar_form = by_id(with_fused_features_retaining(clips_df))
    assert arrow_form == scalar_form


def test_binary_views_zero_copy_and_slicing():
    """_binary_views must return content-correct per-row views for plain,
    null-bearing, and SLICED (non-zero offset) BinaryArrays — the layouts a
    worker can receive after Arrow-level batch slicing."""
    import pyarrow as pa

    from wallaby2caom2_spark.operators.fused_stage import _binary_views

    payloads = [b"RIFFxxxx", None, b"", b"\x01\x02" * 1000, b"fLaC1234"]
    arr = pa.array(payloads, type=pa.binary())

    def materialize(a):
        return [None if v is None else bytes(v) for v in _binary_views(a)]

    assert materialize(arr) == payloads
    # sliced array: offsets no longer start at 0
    sl = arr.slice(1, 3)
    assert materialize(sl) == payloads[1:4]
    # large_binary variant (int64 offsets)
    larr = pa.array(payloads, type=pa.large_binary())
    assert materialize(larr) == payloads
    # views must be zero-copy (share the arrow data buffer), not copies
    views = _binary_views(arr)
    assert isinstance(views[0], memoryview)


def test_decode_features_accepts_memoryview():
    """decode_features reads memoryview payloads in place (wav header walk,
    struct.unpack_from, np.frombuffer) with results identical to bytes."""
    import numpy as np

    from wallaby2caom2_spark.functions import audio

    t = np.arange(8000) / 16000.0
    wav = audio.encode_wav((0.3 * np.sin(2 * np.pi * 220 * t)).astype(np.float32), 16000)
    flac = audio.encode_flac_stub((0.2 * np.sin(2 * np.pi * 330 * t)).astype(np.float32), 16000)
    pcm = audio.encode_pcm_s16le((0.1 * np.sin(2 * np.pi * 110 * t)).astype(np.float32))
    for payload, codec in ((wav, "wav"), (flac, "flac"), (pcm, "pcm_s16le")):
        via_bytes = audio.decode_features(payload, codec, 16000)
        via_view = audio.decode_features(memoryview(payload), codec, 16000)
        assert via_bytes == via_view
        assert via_bytes[0] is True
    # truncated view → contained failure, no exception
    assert audio.decode_features(memoryview(wav)[:20], "wav", 16000)[0] is False
