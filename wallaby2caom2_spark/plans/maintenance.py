"""Standalone maintenance jobs over an existing results table.

Reference analogs: the one-off repair visitors — artifact re-homing
(``wallaby2caom2/fix_product_id_visit.py:76-107``) and the bulk release-date
rewrite (``scripts/fix_release_dates.py:72-91``) — re-expressed as
read → transform → idempotent partitioned overwrite jobs. This proves the
visitor-chain architecture generalizes: a maintenance job is just another
``DataFrame -> DataFrame`` stage applied to the results table instead of the
input table.

At 100 TB: both jobs are embarrassingly parallel per partition (narrow
rewrite; the re-bucket job's single shuffle moves slim result rows), and
dynamic partition overwrite keeps re-runs safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.partitioning import with_bucket


def rebucket_job(
    spark: SparkSession, results_path: str, out_path: str, n_buckets: int
) -> int:
    """J1 analog: recompute every row's home bucket (e.g. after changing the
    bucket count) and regroup the table under the new key."""
    df = spark.read.parquet(results_path)
    rekeyed = with_bucket(df.drop("bucket"), n_buckets)
    (
        rekeyed.repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    return n_buckets


def recover_rewrite(results_path: str) -> str:
    """Crash recovery for ``bulk_field_rewrite_job``'s staged swap: promote
    whichever complete copy survives. Returns 'live' | 'promoted_rewrite' |
    'restored_old'. Safe to call unconditionally before a retry."""
    import shutil

    rewrite, old = results_path + ".rewrite", results_path + ".old"
    if os.path.exists(results_path):
        # live dir intact — drop any stale staging leftovers
        shutil.rmtree(rewrite, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        return "live"
    if os.path.exists(old) and os.path.exists(rewrite):
        # crashed between move-aside and promote: the rewrite is complete
        # (it is written before any move) — finish the swap
        shutil.move(rewrite, results_path)
        shutil.rmtree(old)
        return "promoted_rewrite"
    if os.path.exists(rewrite):
        shutil.move(rewrite, results_path)
        return "promoted_rewrite"
    if os.path.exists(old):
        shutil.move(old, results_path)
        return "restored_old"
    raise FileNotFoundError(f"no copy of {results_path} to recover")


def compact_results_job(
    spark: SparkSession, results_path: str, target_mb: int = 128
) -> dict:
    """Small-files compaction over the bucket-partitioned results table —
    the Iceberg ``rewrite_data_files`` analog. Incremental writers (the
    wave runner, streaming foreachBatch) each leave a
    few files per partition; after enough runs a 10^12-row table reads
    thousands of kilobyte files per bucket and scan planning dominates.

    Plan: a metadata-only walk sizes each partition (the stand-in for
    Iceberg's manifest stats — no data is read), picks partitions whose
    file count exceeds ``ceil(bytes / target_mb)``, and rewrites ONLY
    those, one bounded dynamic-overwrite job per partition with an exact
    output file count. Untouched partitions are never read or rewritten.
    Idempotent: a second run finds every partition already at its target
    and does nothing; a crash mid-run leaves earlier partitions compacted
    and later ones untouched — both states are valid tables.

    Returns {"compacted_buckets": [...], "files_before": n,
    "files_after": m}.
    """
    import math

    def _scan() -> dict[int, tuple[int, int]]:
        stats: dict[int, tuple[int, int]] = {}
        for entry in os.scandir(results_path):
            if not entry.is_dir() or not entry.name.startswith("bucket="):
                continue
            files = [
                f
                for f in os.scandir(entry.path)
                if f.is_file() and f.name.endswith(".parquet")
            ]
            stats[int(entry.name.split("=", 1)[1])] = (
                len(files),
                sum(f.stat().st_size for f in files),
            )
        return stats

    before = _scan()
    targets = {
        b: max(1, math.ceil(nbytes / (target_mb * 1024 * 1024)))
        for b, (n_files, nbytes) in before.items()
    }
    to_compact = sorted(
        b for b, (n_files, _) in before.items() if n_files > targets[b]
    )
    for b in to_compact:
        sub = spark.read.parquet(results_path).filter(F.col("bucket") == b)
        # break lineage to the files the overwrite below replaces: the
        # plan would otherwise read the partition it is overwriting
        sub = sub.repartition(targets[b]).localCheckpoint(eager=True)
        (
            sub.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(results_path)
        )
    spark.catalog.refreshByPath(results_path)
    after = _scan()
    return {
        "compacted_buckets": to_compact,
        "files_before": sum(n for n, _ in before.values()),
        "files_after": sum(n for n, _ in after.values()),
    }


def bulk_field_rewrite_job(
    spark: SparkSession,
    results_path: str,
    field: str,
    value,
    predicate: F.Column | None = None,
) -> int:
    """P19 analog: set ``field`` to ``value`` on every (matching) row of the
    results table via a staged full-table rewrite + atomic-ish swap.

    Returns the number of rows rewritten.
    """
    from pyspark.sql import Observation

    df = spark.read.parquet(results_path)
    cond = predicate if predicate is not None else F.lit(True)
    # evaluate the predicate BEFORE the field is replaced: observing cond on
    # the patched plan would re-resolve it against the NEW values (a
    # predicate on the rewritten field would then count post-patch matches
    # — e.g. 0 "pending" rows after setting them all to "done")
    flagged = df.withColumn("_rewrite_hit", cond.cast("long"))
    patched = flagged.withColumn(
        field,
        F.when(F.col("_rewrite_hit") == 1, F.lit(value)).otherwise(F.col(field)),
    )
    # observe() rides the write job — rewritten-row count without a second
    # pass over the table
    obs = Observation("rewrite_metrics")
    patched = patched.observe(
        obs, F.sum("_rewrite_hit").alias("rewritten")
    ).drop("_rewrite_hit")
    # the staged swap writes the FULL table to a fresh sibling dir, so
    # there are no existing partitions to preserve — plain partitioned write
    writer = patched.write.mode("overwrite")
    if "bucket" in patched.columns:
        writer = writer.partitionBy("bucket")
    # Staged swap: write the full rewrite to a sibling dir, move the live
    # dir aside, promote the rewrite, then delete the old — the
    # unrecoverable window is a single rename, and a crash at any step
    # leaves at least one complete copy on disk (test_maintenance.py covers
    # crash-between-steps recovery). NOTE: the directory renames assume the
    # driver and storage share a POSIX filesystem — the sandbox stand-in for
    # Iceberg's atomic snapshot-swap (`CREATE OR REPLACE` / `replace`
    # commit); on S3/HDFS use that instead.
    import shutil

    rewrite, old = results_path + ".rewrite", results_path + ".old"
    shutil.rmtree(rewrite, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    writer.parquet(rewrite)
    n = int(obs.get["rewritten"] or 0)
    shutil.move(results_path, old)
    shutil.move(rewrite, results_path)
    shutil.rmtree(old)
    # drop the cached file index — the old listing points at deleted files
    spark.catalog.refreshByPath(results_path)
    return n
