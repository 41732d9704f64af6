"""Continuous-ingest content dedup: every micro-batch probed against the
PERSISTED signature table, novel signatures appended, duplicates triaged.

This is the streaming form of ``queries/shards.py audio_incremental_dedup``
— the production shape of "dedup the crawl as it arrives": the corpus
signature store grows as a TABLE (one slim row per accepted clip), not as
stream-engine state, so it survives checkpoint resets, is readable by the
batch queries, and its size is bounded by the corpus, not by a state-store
TTL. Contrast with ``streaming/stateful.py`` (dropDuplicates-style
within-stream dedup): that catches re-deliveries inside one stream's
watermark horizon; this catches content the corpus ingested LAST MONTH.

Per micro-batch (foreachBatch):

1. fingerprint the batch (one Arrow crossing; payloads die in the worker);
2. WITHIN-batch dedup: banded self-join + min-id keeper election (two
   copies arriving in the same batch — the store can't catch those);
3. store probe: ``incremental_matches`` against all signatures from
   EARLIER batches — a retried batch filters out its own partition, so a
   half-appended failed attempt can never match itself (exactly-once);
4. append the novel fingerprintable signatures, partitioned by
   ``batch_id`` with dynamic overwrite (a retry replaces exactly its own
   partition);
5. write a per-batch triage summary (novel / dup_of_store / dup_in_batch /
   unfingerprintable counts) — the ingest-run metrics row.

Scale shape: the store read is partition-pruned by ``batch_id`` and the
probe is the banded equi-join (O(batch) work against a corpus-sized store;
at lakehouse scale the store is additionally bucketed by band key —
operators/audio_fp.py docstring). Nothing payload-sized ever enters a
shuffle: the fingerprint frame is ~24 B/row.

Reference analog: the reference consults its rejected/success records
before re-processing an observation (``config/config.yml:56-60`` known
lists); here the "known list" is content-addressed and probabilistic-free
(exact hamming verify after banding).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import audio_fp
from ..session import local_frame
from .stream import stream_clips

SIG_SCHEMA = "clip_id string, fp bigint, batch_id bigint"


def _read_store(spark: SparkSession, sig_path: str) -> DataFrame:
    """The signature table, or an empty typed frame on the very first
    batch (no directory yet)."""
    if not os.path.isdir(sig_path):
        return local_frame(spark, [], SIG_SCHEMA)
    return spark.read.schema(SIG_SCHEMA).parquet(sig_path)


def dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    sig_path: str,
    max_hamming: int = 3,
) -> DataFrame:
    """One micro-batch's triage frame: (clip_id, fp_ok, fp, status,
    match_id, hamming). Pure plan — the sink writes it. Exposed separately
    so tests (and a batch backfill) can drive it without a stream."""
    fp = audio_fp.with_fingerprint(batch_df).select("clip_id", "fp_ok", "fp")

    # within-batch dedup: min-id keeper election over banded pairs (the
    # same election plans/curate.py uses); losers are dups of their keeper
    pairs = audio_fp.banded_neardup_pairs(fp, max_hamming=max_hamming)
    losers = (
        pairs.groupBy(F.col("clip_b").alias("clip_id"))
        .agg(
            F.min("clip_a").alias("batch_match_id"),
            F.min("hamming").alias("batch_hamming"),
        )
    )

    # store probe: signatures from EARLIER batches only — a retried batch
    # must never see its own failed append (it would match itself and
    # classify the whole batch as dup)
    store = (
        _read_store(spark, sig_path)
        .filter(F.col("batch_id") < F.lit(batch_id))
        .withColumn("fp_ok", F.lit(True))
        .select("clip_id", "fp_ok", "fp")
    )
    store_best = audio_fp.incremental_matches(fp, store, max_hamming)

    status = (
        F.when(~F.col("fp_ok"), F.lit("unfingerprintable"))
        .when(F.col("match_id").isNotNull(), F.lit("dup_of_store"))
        .when(F.col("batch_match_id").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("novel"))
    )
    return (
        fp.join(store_best, "clip_id", "left")
        .join(losers, "clip_id", "left")
        .withColumn("status", status)
        .withColumn(
            "match_id", F.coalesce(F.col("match_id"), F.col("batch_match_id"))
        )
        .withColumn(
            "hamming", F.coalesce(F.col("hamming"), F.col("batch_hamming"))
        )
        .select("clip_id", "fp_ok", "fp", "status", "match_id", "hamming")
    )


def run_ingest_dedup_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    max_hamming: int = 3,
) -> None:
    """Bounded (availableNow) ingest-dedup run: new clip files → per-batch
    probe → signature append + triage summary. Repeated invocations resume
    from the checkpoint and extend the SAME signature table — the corpus
    memory spans runs."""
    os.makedirs(out_dir, exist_ok=True)
    sig_path = os.path.join(out_dir, "signatures")
    triage_path = os.path.join(out_dir, "triage")

    clips = stream_clips(spark, in_path, max_files_per_trigger)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        triage = dedup_batch(
            spark, batch_df, batch_id, sig_path, max_hamming
        ).persist()
        try:
            (
                triage.filter(F.col("status") == "novel")
                .select("clip_id", "fp")
                .withColumn("batch_id", F.lit(batch_id))
                .repartition(1)  # slim rows; one signature file per batch
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(sig_path)
            )
            (
                triage.groupBy("status")
                .agg(F.count("*").alias("n_clips"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(triage_path)
            )
        finally:
            triage.unpersist()

    (
        clips.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
