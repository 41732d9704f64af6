"""The quality-filter pipeline: one lazy DataFrame DAG.

Reference lifecycle analog (SURVEY.md §3): where wallaby2caom2 runs a serial
per-item loop — name-build → store → read existing → meta visit → write →
bookkeeping (``wallaby2caom2/composable.py:115-138``) — this module declares
the same dataflow once, over all rows:

    scan → fused feature stage (ONE mapInArrow: decode + langid/perplexity
    + scrub; bytes die in the worker) → transcript stats + rule cascade +
    scrub mask (codegen, same narrow stage) → result projection
    → salted repartition of slim result rows (the ONLY shuffle)
    [+ metrics aggregation as a separate action]

Ordering rationale (100 TB design): the audio payload dominates row size
(~50 KB vs ~300 B for everything else), so ``bytes`` must NEVER cross a
shuffle — the feature stage runs narrow over the scan's own splits (parquet
splits are size-balanced by construction, so byte-level work is even without
a shuffle), and only the final slim rows are salt-repartitioned to balance
the sink. The fused stage is the only JVM↔Python crossing, Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators import cascade, fused_stage, partitioning

RESULT_COLUMNS = [
    "clip_id",
    "keep",
    "drop_reason",
    "scrubbed_transcript",
    "scrub_edits",
    "lang",
    "lang_conf",
    "ppl",
    "pcm_ok",
    "sr_meas",
    "dur_ms_meas",
    "rms",
    "clip_rate",
    "dropout_ms",
]


def quality_filter(
    clips: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    repartition: bool = True,
) -> DataFrame:
    """clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript) → result rows.

    ONE mapInArrow crossing computes decode + text-model features per scan
    split (bytes die inside the worker), the transcript stats + rule
    cascade + scrub mask run in codegen on the SAME narrow stage, and only
    the final slim result rows cross the one salted exchange —
    ``transcript`` and the unmasked scrub text never shuffle (dropped rows
    carry NULL text, so the exchange moves kept-row text only). No payload
    byte ever crosses a shuffle.
    """
    df = cascade.label(fused_stage.with_fused_features(clips), cfg).select(
        *RESULT_COLUMNS
    )
    if repartition:
        n = num_partitions or clips.sparkSession.sparkContext.defaultParallelism * 2
        # the exchange balances output rows for the sink regardless of key
        # skew / input layout; content-derived salt columns keep routing
        # deterministic across stage retries while splitting hot clip_ids
        # (ppl/rms/dur are content hashes in effect; scrubbed text covers
        # kept rows)
        df = partitioning.salted_repartition(
            df, n, content_cols=("scrubbed_transcript", "ppl", "rms", "dur_ms_meas")
        )
    return df


def kept_clips(clips: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Quality-filter survivors WITH their payloads — the zero-Exchange form.

    Downstream payload stages (segmentation, tensor extraction, trim,
    augmentation — queries/clips_flagship.py) need (bytes + keep). Joining
    payloads back to the slim filter output (``clips ⋈ kept_ids`` left-semi)
    reads the corpus twice and, once the kept set outgrows a broadcast
    (~50% of 10^12 rows), plans a sort-merge join that shuffles the ~50 KB
    payload column — violating this module's "bytes never cross a shuffle"
    contract. Instead the keep decision is recomputed NARROWLY: the fused
    feature struct is attached by a scalar pandas UDF (payload stays in the
    JVM row), the cascade runs in codegen, and the filter prunes in place —
    scan → UDF → filter, ONE scan, ZERO exchanges of any kind. Pinned by
    tests/test_plan_shapes.py (no Exchange carries a payload column) and
    tests/test_fused_equivalence.py (same kept set as ``quality_filter``).
    """
    labeled = cascade.label(fused_stage.with_fused_features_retaining(clips), cfg)
    return labeled.filter(F.col("keep")).select(*clips.columns)


def run_metrics(result: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """North-rule counters: clips seen / kept / dropped-by-rule / scrub edits.

    Reference analog: success/failure/progress logs + metrics directory
    (``config/config.yml:28-54``). One tiny hash aggregation; input columns
    are 3 narrow ones, so the scan never touches transcripts or bytes.
    ``extra_keys`` adds grouping columns (the wave runner passes
    ``("bucket",)`` so its metrics sink can overwrite per bucket on
    crash-resume instead of double-counting).
    """
    return (
        result.groupBy(
            *extra_keys,
            F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("outcome"),
        )
        .agg(
            F.count("*").alias("clips"),
            F.sum("scrub_edits").alias("scrub_edits"),
        )
        .withColumn("kept", F.col("outcome") == "kept")
    )
