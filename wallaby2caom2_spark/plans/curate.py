"""End-to-end corpus curation: quality filter → audio gates → content
dedup → split assignment → training-shard export.

The full product in one plan — what a team curating a 10^12-clip ASR drop
actually runs:

1. **quality filter** (plans/pipeline.py): decode sanity + langid +
   perplexity + rule cascade + PII scrub — one Arrow crossing, one slim
   exchange.
2. **audio gate pass** (operators/audio_signals.py): ONE more decode pass
   over survivors computes fingerprint + VAD + spectral shape together;
   clips that are tonal artifacts or carry no detected speech drop here.
3. **content dedup**: LSH-banded fingerprint join (operators/audio_fp.py)
   → pairwise min-id keeper election: for every near-dup pair the larger
   clip_id loses, so re-delivered/re-encoded copies collapse to one
   canonical clip. (Pairwise, not full connected components — exact for
   the redelivery case; chains collapse onto their smallest reachable
   member or drop entirely, never duplicate. The CC operator in
   queries/dedup.py is the full-transitive alternative.)
4. **split assignment**: deterministic xxhash64(clip_id) bucket →
   train/valid/test (98/1/1) — layout-independent, so a backfill rerun
   never migrates a clip across the eval boundary (same contract as
   queries/curation.py's document split).
5. **export**: scrubbed transcript ⋈ filterbank tensor (decode pass #3,
   tensors computed ONLY for final survivors — computing them before the
   gates would waste the expensive output on clips about to drop),
   written as (split, bucket)-partitioned parquet + a JSON manifest.

Every stage is keyed equi-joins + narrow UDF passes; the funnel summary
(`curation_funnel`) labels each input clip with the FIRST stage that
dropped it in one plan — a single groupBy, no per-stage re-scans.

Reference analog: the whole reference lifecycle (``composable.py:115-138``
name→store→visit→write→bookkeep) as one declarative DAG instead of a
serial per-file loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import audio_fp, cascade, spectral
from ..operators.audio_signals import quality_and_signals
from ..operators.features import feature_frames
from ..operators.partitioning import with_bucket
from ..sources.clips import read_clips

# gate thresholds (corpus-calibrated; the SHAPE is the deliverable);
# the tonal boundary itself lives in operators/spectral.py so the funnel
# and the standalone tonality gate can never drift apart
MIN_SPEECH_RATIO = 0.02      # at least 2% of frames carry speech energy
MAX_HAMMING = 3              # fingerprint near-dup radius
SPLIT_BUCKETS = 1000
TRAIN_LT, VALID_LT = 980, 990  # 98 / 1 / 1


def _split_bucket() -> F.Column:
    """Content-stable split bucket: first 12 md5 hex chars of clip_id mod
    1000. Engine-portable (DuckDB computes the identical value, which is
    what lets the funnel be oracle-replayed end-to-end — same rationale as
    queries/curation.py's multiply-xor-shift); 48 bits fits exactly in a
    BIGINT on both engines. Layout-independent like the xxhash64 form it
    replaced: a backfill rerun never migrates a clip across the eval
    boundary."""
    return (
        F.conv(F.substring(F.md5(F.col("clip_id")), 1, 12), 16, 10).cast(
            "long"
        )
        % SPLIT_BUCKETS
    )


def _split_col() -> F.Column:
    b = _split_bucket()
    return (
        F.when(b < TRAIN_LT, F.lit("train"))
        .when(b < VALID_LT, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def _staged(
    clips: DataFrame,
    caches: list | None = None,
    signals_for_dropped: bool = False,
) -> DataFrame:
    """Label every input clip with the first stage that drops it (or its
    final split) — ONE plan, keyed equi-joins only.

    ``signals_for_dropped`` is forwarded to ``quality_and_signals``: the
    production default skips the expensive FFT signal block for clips the
    quality cascade drops (their gate signals are never read — ``stage``
    short-circuits at ``~keep`` and dedup candidates filter on ``keep``);
    tests pass True to pin that the output is identical either way.

    Output: (clip_id, lang, scrubbed_transcript, stage) where stage ∈
    {1_quality_dropped, 2_undecodable, 2_tonal_artifact, 2_no_speech,
     3_neardup_dropped, 4_train, 4_valid, 4_test}.
    """
    # ONE payload pass for the entire DAG (operators/audio_signals.py
    # ``quality_and_signals``): quality features + text models + every gate
    # signal come back slim from a single decode of a single scan — the
    # round-2 form ran a second payload pass over survivors stitched by a
    # ``clips ⋈ kept_ids`` semi-join (a second corpus read, and a payload
    # shuffle once the kept set outgrows a broadcast). Persist the slim
    # labeled frame at its branch point: it feeds the final label select,
    # the gate classification, and the dedup candidates — all codegen over
    # the cached rows, so the UDF pass executes exactly once per action.
    # Payload-free (~100 B/clip + transcript), so caching costs ~0.01% of
    # the corpus. Lifetime: the cache must outlive the returned LAZY frame,
    # so _staged cannot unpersist — callers that fully materialize
    # (curate_corpus) clean up via ``caches``; lazy callers (the funnel
    # query) leave the slim blocks to Spark's LRU.
    labeled = (
        cascade.label(
            quality_and_signals(clips, signals_for_dropped=signals_for_dropped)
        )
        .withColumn(
            "gate_stage",
            F.when(~F.col("keep"), F.lit(None).cast("string"))
            .when(~F.col("sig_ok"), "2_undecodable")
            .when(spectral.tonal_artifact_cond(), "2_tonal_artifact")
            .when(F.col("speech_ratio") < MIN_SPEECH_RATIO, "2_no_speech")
            .otherwise(F.lit(None).cast("string")),
        )
        .select(
            "clip_id",
            "keep",
            "lang",
            "scrubbed_transcript",
            "gate_stage",
            "fp_ok",
            "fp",
        )
        .persist()
    )
    if caches is not None:
        caches.append(labeled)
    # dedup candidates come only from clips that passed filter + gates
    passed = labeled.filter(F.col("keep") & F.col("gate_stage").isNull())
    losers = (
        audio_fp.banded_neardup_pairs(passed, max_hamming=MAX_HAMMING)
        .select(F.col("clip_b").alias("clip_id"))
        .distinct()
        .withColumn("_loser", F.lit(True))
    )
    stage = (
        F.when(~F.col("keep"), "1_quality_dropped")
        .when(F.col("gate_stage").isNotNull(), F.col("gate_stage"))
        .when(F.col("_loser"), "3_neardup_dropped")
        .otherwise(F.concat(F.lit("4_"), _split_col()))
    )
    return (
        labeled.join(losers, "clip_id", "left")
        .select("clip_id", "lang", "scrubbed_transcript", stage.alias("stage"))
    )


def curation_funnel(clips: DataFrame) -> DataFrame:
    """Per-stage clip counts — the curation run's north-rule counters."""
    return (
        _staged(clips)
        .groupBy("stage")
        .agg(F.count("*").alias("n_clips"))
        .orderBy("stage")
    )


def curate_corpus(
    spark: SparkSession,
    clips_path: str,
    out_path: str,
    n_buckets: int = 8,
    clips_table: str | None = None,
) -> dict:
    """Run the full curation DAG and export (split, bucket)-partitioned
    training shards + manifest. Returns the manifest dict.

    The one irreducible payload join left in the DAG is the final-survivor
    attach below (``clips ⋈ final_ids`` — the survivor set is decided by
    the dedup join, so no narrow recompute can reproduce it). Pass
    ``clips_table`` — a table written ``bucketBy(clip_id)``
    (sources/bucketed.py) — to read the payload side with bucketing
    metadata: the sort-merge join then exchanges ONLY the slim id side into
    the existing buckets and the payload column never enters a shuffle
    (plan pinned in tests/test_plan_shapes.py). Without it (path read),
    correctness is identical but the payload side relies on AQE choosing a
    broadcast of the id side — fine at sandbox scale, not at 10^12 rows."""
    from pyspark.storagelevel import StorageLevel

    clips = read_clips(spark, clips_path)
    attach_side = spark.table(clips_table) if clips_table else clips
    # every frame persisted inside this run is materialized before return,
    # so it can (and must) be unpersisted — a long-lived session running
    # many exports would otherwise accumulate cached blocks until LRU
    # churn evicts live data
    caches: list[DataFrame] = []
    try:
        # staged is slim and feeds two arms (final + the survivors
        # semi-join); persisting it keeps the whole gate DAG at one
        # execution
        staged = _staged(clips, caches).persist()
        caches.append(staged)
        final = staged.filter(F.col("stage").startswith("4_")).select(
            "clip_id",
            "lang",
            "scrubbed_transcript",
            F.substring("stage", 3, 10).alias("split"),
        )
        survivors = attach_side.join(
            final.select("clip_id"), "clip_id", "left_semi"
        )
        feats = feature_frames(survivors).filter(F.col("feat_ok"))
        # DISK_ONLY, not MEMORY: the shard frame carries the feature
        # tensors (KBs/clip) — caching it in executor memory would evict
        # the slim gate caches at corpus scale, but it IS consumed twice
        # (the written-set collect below + the write), and the feat_ok
        # filter makes any slimmer proxy for the written set inexact
        shard = with_bucket(
            final.join(
                feats.select("clip_id", "n_frames", "n_bands", "feat_bytes"),
                "clip_id",
            ),
            n_buckets,
        ).persist(StorageLevel.DISK_ONLY)
        caches.append(shard)
        # the partitions THIS run owns — dynamic overwrite replaces only
        # these, so the read-back below is checked against this exact set
        written = {
            (r["split"], int(r["bucket"]))
            for r in shard.select("split", "bucket").distinct().collect()
        }
        (
            shard.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("split", "bucket")
            .parquet(os.path.join(out_path, "shards"))
        )
        from .export import _read_shards_or_empty

        per = (
            _read_shards_or_empty(
                spark,
                os.path.join(out_path, "shards"),
                "split string, bucket int, n_frames int",
            )
            .groupBy("split", "bucket")
            .agg(
                F.count("*").alias("n_clips"),
                F.sum("n_frames").alias("n_frames"),
            )
            .collect()
        )
    finally:
        for df in caches:
            df.unpersist()
    stale = sorted(
        (r["split"], int(r["bucket"]))
        for r in per
        if (r["split"], int(r["bucket"])) not in written
    )
    if stale:
        # ANY partition this run did not write is a leftover from a prior
        # export of a different corpus/config — folding it into the
        # manifest would hand the dataloader duplicate or foreign clips
        raise ValueError(
            f"shards dir has stale partitions {stale} from a previous "
            f"export — clear {os.path.join(out_path, 'shards')} before "
            "re-exporting"
        )
    manifest: dict = {"n_clips": 0, "n_buckets": n_buckets, "splits": {}}
    for r in per:
        s = manifest["splits"].setdefault(
            r["split"], {"n_clips": 0, "buckets": {}}
        )
        s["buckets"][str(int(r["bucket"]))] = {
            "n_clips": int(r["n_clips"]),
            "n_frames": int(r["n_frames"]),
        }
        s["n_clips"] += int(r["n_clips"])
        manifest["n_clips"] += int(r["n_clips"])
    from .export import write_manifest_atomic

    write_manifest_atomic(out_path, manifest)
    return manifest
