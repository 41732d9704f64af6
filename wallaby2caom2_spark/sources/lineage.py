"""Lineage + metrics sinks (S9/S10 analogs).

Reference: per-item success/failure/retry logs + progress counts + the
"observable" metrics directory (``config/config.yml:28-54``). Here: one
parquet dataset per concern, written per committed wave.

Idempotence under crash-resume: both sinks are partitioned by
``(run_id, bucket)`` — the BUCKET, not the wave, because a resumed run
renumbers its waves from zero — and written with dynamic partition
overwrite, so a wave that crashed AFTER its lineage/metrics write but
BEFORE the checkpoint commit simply replaces its buckets' rows on the
re-run; a plain append would double-count those clips in any consumer
summing the dataset.

Where the numbers come from: the wave runner reads its written results
back ONCE and collects ``run_metrics(written, extra_keys=("bucket",))``
to the driver. Those rows ARE the metrics table (plus ``run_id`` and
``wave``), and each bucket's lineage count is the sum of their ``clips``
(0 for a bucket that produced no rows). Both sinks build their frames
from driver-side rows through ``session.local_frame``, so writing them
runs no Python worker and no second aggregation.
Lineage rows carry (run_id, wave, bucket, status, clips, ts) so the
resume test can assert exactly-once per clip; metrics rows carry the
north-rule counters.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from ..session import local_frame


def check_run_id(run_id: str) -> str:
    """``run_id`` becomes a PARTITION DIRECTORY name, and Spark's partition
    reader type-infers directory values: an id that parses as a number —
    a 12-char hex like ``6e0612805002`` reads back as the DOUBLE 6e+612 →
    Infinity — silently corrupts every read of the lineage/metrics tables.
    Caught live (run_id column showed ``Infinity`` on read-back).

    The inference also coerces DATE/TIMESTAMP-shaped values ('2026-08-21'
    reads back as a date, changing the column type), so a float() probe is
    not enough: the guard requires the id to START WITH AN ASCII LETTER,
    matching the ``r``-prefix mint rule in ``run_resumable`` — no numeric,
    date, or timestamp literal begins with a letter, so a letter-first id
    always reads back as the string it was written as.  The float() probe
    is kept as well: it catches the special spellings ("inf", "Infinity",
    "NaN") that start with a letter but that a double parser still
    accepts."""
    if run_id and run_id[0].isascii() and run_id[0].isalpha():
        try:
            float(run_id)
        except ValueError:
            return run_id
    raise ValueError(
        f"run_id {run_id!r} must start with an ASCII letter: partition "
        "directory values that parse as numbers, dates, or timestamps are "
        "type-inferred on read-back and corrupt the lineage/metrics tables "
        "— prefix the id with a letter (generated ids use 'r')"
    )


def append_lineage(
    spark: SparkSession,
    path: str,
    run_id: str,
    wave: int,
    bucket_counts: list[tuple[int, int]],
) -> None:
    run_id = check_run_id(run_id)
    ts = time.time()
    _overwrite_buckets(
        local_frame(
            spark,
            [(run_id, wave, b, "ok", int(n), ts) for b, n in bucket_counts],
            "run_id string, wave int, bucket int, status string, clips long, "
            "ts double",
        ),
        path,
    )


def append_metrics(
    spark: SparkSession,
    rows: list[Row],
    schema: T.StructType,
    path: str,
    run_id: str,
    wave: int = 0,
) -> None:
    """``rows`` are collected ``run_metrics(..., extra_keys=("bucket",))``
    rows and ``schema`` that frame's schema; the ``bucket`` column is the
    overwrite key that keeps re-runs of a crashed-but-sunk wave from
    double-counting."""
    run_id = check_run_id(run_id)
    schema = T.StructType(
        schema.fields
        + [
            T.StructField("run_id", T.StringType()),
            T.StructField("wave", T.IntegerType()),
        ]
    )
    _overwrite_buckets(
        local_frame(spark, [(*r, run_id, wave) for r in rows], schema), path
    )


def _overwrite_buckets(df: DataFrame, path: str) -> None:
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "bucket")
        .parquet(path)
    )
