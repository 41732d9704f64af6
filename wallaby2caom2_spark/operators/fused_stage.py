"""The quality-feature kernel and its two Spark adapters.

Reference analog: the per-item visitor chain — header read S5
(``FileMetadataReader`` / ``make_headers_from_file``,
``wallaby2caom2/tests/test_caom_gen_visit.py:99-102``) then value repair P15
(``ValueRepairCache``, ``wallaby2caom2/main_app.py:84-96``) — re-expressed as
ONE batch kernel, ``features_batch``: decode sanity per clip, langid +
perplexity and scrub once per batch. Errors never fail the job: an
undecodable payload yields ``pcm_ok=false`` (the reference's per-item
try/except containment, ``wallaby2caom2/main_app.py:256-263``).

The kernel is Spark-free; two thin adapters put it behind exactly one
JVM→Python crossing each:

- ``with_fused_features`` (mapInArrow, the flagship): reads each Arrow
  batch once and returns slim rows WITHOUT the payload bytes (the binary
  column dies inside the worker, so it never crosses back or shuffles).
  mapInArrow rather than mapInPandas because the Arrow→pandas conversion
  of the binary column materializes one Python ``bytes`` object per clip —
  a ~50 KB allocation + memcpy per row that measured ~2.0s of a 6.1s
  sf0.1/local[32] pipeline run. Here decode reads each payload as a
  ZERO-COPY memoryview into the batch's data buffer, and the passthrough
  columns are re-emitted as the input's own Arrow arrays; only the computed
  feature vectors are newly allocated.
- ``with_fused_features_retaining`` (scalar pandas UDF): the payload stays
  in the JVM row and only the slim feature struct comes back — the building
  block of the zero-Exchange kept-clips path.

The curation pass (operators/audio_signals.py ``quality_and_signals``) calls
the same kernel inside its own mapInPandas. Every feature schema derives
from ``FEATURE_FIELDS``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# declared clip columns the mapInArrow stage passes through unchanged
CLIP_FIELDS = [
    T.StructField("clip_id", T.StringType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
]

# the columns features_batch returns, in this order
FEATURE_FIELDS = [
    T.StructField("pcm_ok", T.BooleanType()),
    T.StructField("sr_meas", T.IntegerType()),
    T.StructField("dur_ms_meas", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("clip_rate", T.DoubleType()),
    T.StructField("dropout_ms", T.DoubleType()),
    T.StructField("lang", T.StringType()),
    T.StructField("lang_conf", T.FloatType()),
    T.StructField("ppl", T.DoubleType()),
    T.StructField("scrubbed_all", T.StringType()),
    T.StructField("scrub_edits_all", T.IntegerType()),
]

FEATURES_SCHEMA = T.StructType(FEATURE_FIELDS)
FUSED_SCHEMA = T.StructType(CLIP_FIELDS + FEATURE_FIELDS)
_OUT_PA_SCHEMA = to_arrow_schema(FUSED_SCHEMA)
_FEATURES_PA_SCHEMA = to_arrow_schema(FEATURES_SCHEMA)


def features_batch(payloads, codecs, declared_sr, texts: list) -> dict:
    """One batch of clips → ``{field name: column}`` for ``FEATURE_FIELDS``.

    ``payloads`` are bytes-like (``bytes`` or zero-copy ``memoryview``) or
    None; ``declared_sr`` values may be NULL in any spelling a batch format
    hands over (None, or NaN through pandas) — ``audio.declared_sr`` reads
    them as "no declared rate". ``texts`` are str or None. Numeric columns
    are typed numpy arrays, string columns object sequences with None for
    NULL."""
    # worker-side imports: models/tables built once per python worker process
    from ..functions import audio, scrub, textscore

    n = len(texts)
    ok = np.zeros(n, dtype=bool)
    srm = np.zeros(n, dtype=np.int32)
    dur = np.zeros(n, dtype=np.int32)
    rms = np.zeros(n, dtype=np.float64)
    clip = np.zeros(n, dtype=np.float64)
    dropm = np.zeros(n, dtype=np.float64)
    for i, (raw, codec, sr) in enumerate(zip(payloads, codecs, declared_sr)):
        o, s, d, r, c, dm = audio.decode_features(raw, codec, audio.declared_sr(sr))
        ok[i], srm[i], dur[i], rms[i], clip[i], dropm[i] = o, s, d, r, c, dm
    langs, confs, ppls = textscore.score_batch(texts)  # hash+gather once
    out_t, out_n = scrub.scrub_batch(texts)
    return {
        "pcm_ok": ok,
        "sr_meas": srm,
        "dur_ms_meas": dur,
        "rms": rms,
        "clip_rate": clip,
        "dropout_ms": dropm,
        "lang": langs,
        "lang_conf": confs,
        "ppl": ppls,
        "scrubbed_all": out_t,
        "scrub_edits_all": np.asarray(out_n, dtype=np.int32),
    }


def _binary_views(arr: pa.Array) -> list:
    """Per-row zero-copy memoryviews into a (Large)BinaryArray's data buffer
    (None for nulls). The payloads are never copied out of the Arrow batch —
    decode reads them in place (np.frombuffer / struct.unpack_from accept
    any buffer). Falls back to ``to_pylist`` (one copy) for exotic layouts.
    """
    if not isinstance(arr, (pa.BinaryArray, pa.LargeBinaryArray)):
        return arr.to_pylist()
    n = len(arr)
    off_dtype = np.int64 if isinstance(arr, pa.LargeBinaryArray) else np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_dtype, offset=0)
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    base = arr.offset
    if arr.null_count == 0:
        return [data[offs[base + i] : offs[base + i + 1]] for i in range(n)]
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return [
        data[offs[base + i] : offs[base + i + 1]] if valid[i] else None
        for i in range(n)
    ]


def fused_features_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        cols = dict(zip(batch.schema.names, batch.columns))
        feats = features_batch(
            _binary_views(cols["bytes"]),
            cols["codec"].to_pylist(),
            cols["sr_hz"].to_pylist(),
            cols["transcript"].to_pylist(),
        )
        yield pa.RecordBatch.from_arrays(
            [cols[f.name] for f in CLIP_FIELDS]
            + [pa.array(feats[f.name], type=f.type) for f in _FEATURES_PA_SCHEMA],
            schema=_OUT_PA_SCHEMA,
        )


def with_fused_features(df: DataFrame) -> DataFrame:
    """(clip_id, bytes, sr_hz, dur_ms, codec, transcript) → slim feature rows
    (bytes never returns to the JVM). The scrub prescan gate runs inside the
    worker via Arrow's RE2 kernel (scrub_batch) — measured ~2 us/row, vs
    ~56 us/row for the same pattern as a JVM ``rlike`` codegen column
    (java.util.regex backtracking) and ~65 us/row for Python ``re``."""
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return df.select(*cols).mapInArrow(fused_features_arrow, FUSED_SCHEMA)


@F.pandas_udf(FEATURES_SCHEMA)
def fused_features_udf(
    batches: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Scalar-UDF adapter: the payload is serialized INTO the worker once
    (decode needs the bytes anyway) and only the slim feature struct comes
    back — nothing payload-sized re-crosses Arrow or enters an exchange."""
    for payload, codec, sr, transcript in batches:
        yield pd.DataFrame(
            features_batch(
                payload.to_numpy(), codec.to_numpy(), sr.to_numpy(),
                transcript.tolist(),
            )
        )


def with_fused_features_retaining(df: DataFrame) -> DataFrame:
    """Append the feature struct while RETAINING every input column
    (notably ``bytes``) in the JVM row — the building block of the
    zero-Exchange kept-clips path (plans/pipeline.py ``kept_clips``).
    Use when a downstream stage needs survivor payloads: the alternative —
    running the slim fused stage and semi-joining payloads back — plans a
    second scan and, once the kept set outgrows a broadcast, shuffles the
    payload column (forbidden, see plans/pipeline.py module docstring)."""
    return (
        df.withColumn(
            "_f",
            fused_features_udf(
                F.col("bytes"), F.col("codec"), F.col("sr_hz"), F.col("transcript")
            ),
        )
        .select("*", "_f.*")
        .drop("_f")
    )
