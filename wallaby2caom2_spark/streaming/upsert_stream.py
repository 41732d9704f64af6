"""Streaming upsert: quality-filtered micro-batches MERGEd into a
copy-on-write snapshot table.

This closes the loop between the streaming surface (S3/S12: file-source
stream + bookmark checkpoint) and the real merge path (J2/S8:
``sources/snapshot_table.py``): each micro-batch runs the full pipeline
and lands as a keyed latest-wins MERGE commit, so a clip re-delivered in
a later wave (re-crawl, corrected transcript) UPDATES its row instead of
duplicating it — the reference's read-modify-write record semantics
(``wallaby2caom2/tests/test_caom_gen_visit.py:109-117``) under a stream.

Exactly-once for STATE, by idempotence: a batch re-delivered after a
crash (merge committed, streaming checkpoint not) re-merges the same
keys with the same content — the second commit updates rows to the
values they already hold, so the table converges regardless of retry
count. Counters are made exactly-once separately: the per-batch merge
stats land in a metrics table partitioned by ``batch_id`` with dynamic
overwrite, so a retried batch REPLACES its own metrics row (the same
contract as plans/runner.py's lineage sink; note the retried row then
reports updated-instead-of-inserted counts — the honest description of
what the retry did).

Single-writer: one streaming query owns a table (the snapshot table's
optimistic commit raises on a concurrent writer rather than corrupt).

Scale shape: per batch this is the flagship plan (one Arrow crossing,
slim rows) followed by a merge that reads/rewrites only the buckets the
batch touches — O(batch), never O(table). With ``write_mode="mor"`` the
merge does not even read those buckets: each batch lands as delta file
groups (O(batch) I/O end-to-end, the high-frequency-ingest shape), and
``compact_min_deltas`` keeps pending chains bounded by compacting any
bucket whose chain reaches the threshold after the batch commits — the
steady-state cadence the delta-chain probe (BENCH/mor-chain.md)
recommends. A MOR batch re-delivered after a crash appends a redundant
delta whose rows equal what resolution already yields — the table
CONTENT converges exactly as in the COW path, and the next compaction
folds the redundancy away.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..plans.pipeline import quality_filter
from ..session import local_frame
from ..sources import snapshot_table
from .stream import stream_clips


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    order_col: str | None = None,
    write_mode: str = "cow",
) -> dict:
    """One micro-batch: pipeline → bootstrap-or-merge. Shared by the
    streaming sink and direct batch callers (tests)."""
    result = quality_filter(batch_df, cfg, repartition=False)
    if not snapshot_table.is_snapshot_table(table_path):
        manifest = snapshot_table.create_table(
            spark, table_path, result, key="clip_id", n_buckets=n_buckets
        )
        # exact: create_table deduplicated, and version 0 has no deltas
        n = sum(s["n_rows"] for s in manifest["stats"].values())
        return {
            "version": 0,
            "base_version": -1,
            "touched_buckets": list(range(n_buckets)),
            "updated": 0,
            "inserted": n,
        }
    return snapshot_table.merge(
        spark, table_path, result, order_col=order_col, mode=write_mode
    )


def run_upsert_stream(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    max_files_per_trigger: int | None = None,
    write_mode: str = "cow",
    compact_min_deltas: int | None = None,
) -> None:
    """One bounded (availableNow) streaming run: new clip files →
    pipeline → snapshot-table MERGE + per-batch metrics.

    ``write_mode="mor"`` lands each batch as delta file groups (no
    bucket rewrite); ``compact_min_deltas=k`` then compacts any bucket
    whose pending chain reached ``k`` after the commit, bounding the
    read tax while keeping housekeeping proportional to the hot
    fraction (BENCH/mor-chain.md).

    Layout under ``out_dir``: ``table/`` (the snapshot table),
    ``metrics/`` (one row per batch, batch_id-partitioned, overwritten on
    retry), ``checkpoint/`` (the stream bookmark)."""
    table_path = os.path.join(out_dir, "table")
    metrics_path = os.path.join(out_dir, "metrics")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        stats = upsert_batch(
            spark, batch_df, table_path, cfg=cfg, n_buckets=n_buckets,
            write_mode=write_mode,
        )
        if compact_min_deltas is not None and snapshot_table.is_snapshot_table(
            table_path
        ):
            snapshot_table.compact(
                spark, table_path, min_deltas=compact_min_deltas
            )
        row = local_frame(
            spark,
            [
                (
                    int(batch_id),
                    int(stats["version"]),
                    stats.get("updated"),
                    stats.get("inserted"),
                    len(stats["touched_buckets"]),
                    stats.get("mode", "cow"),
                    stats.get("delta_rows"),
                )
            ],
            "batch_id long, version int, updated long, inserted long, "
            "touched_buckets int, write_mode string, delta_rows long",
        )
        (
            row.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(metrics_path)
        )

    q = (
        stream_clips(spark, in_path, max_files_per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
