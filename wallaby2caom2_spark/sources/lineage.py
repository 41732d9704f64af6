"""Lineage + metrics sinks (S9/S10 analogs).

Reference: per-item success/failure/retry logs + progress counts + the
"observable" metrics directory (``config/config.yml:28-54``). Here: one
parquet dataset per concern, written per committed wave.

Where the numbers come from: the wave runner reads its written results
back ONCE and collects ``run_metrics(written, extra_keys=("bucket",))``
to the driver. Those rows ARE the metrics table (plus ``run_id`` and
``wave``), and each bucket's lineage count is the sum of their ``clips``
(0 for a bucket that produced no rows). Lineage rows carry (run_id, wave,
bucket, status, clips, ts) so the resume test can assert exactly-once per
clip; metrics rows carry the north-rule counters.

Written by the driver, not by Spark: both sinks type their rows with
``session.local_table`` and write them with pyarrow, so the bookkeeping
of a wave starts no Spark job. The layout is the one a Spark
``partitionBy("run_id", "bucket")`` write makes, so ``spark.read.parquet``
reads both tables back with the same columns and types.

Idempotence under crash-resume: each ``run_id=<id>/bucket=<b>/`` directory
holds exactly one data file, ``part-00000.parquet`` — keyed by the
BUCKET, not the wave, because a resumed run renumbers its waves from zero.
A write goes to a hidden temporary name in that directory (Spark's reader
skips names that start with ``.``), every other file there is removed,
and the temporary file is ``os.replace``d onto the fixed name. So a wave
that crashed AFTER its lineage/metrics write but BEFORE the checkpoint
commit simply replaces its buckets' rows on the re-run; a plain append
would double-count those clips in any consumer summing the dataset. A
crash between the removal and the rename leaves a bucket with no row,
never two, and the re-run rewrites it because the checkpoint does not
list it yet. Like ``checkpoint.BucketCheckpoint``, this assumes the
output directory is on a local (POSIX) file system.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import types as T

from ..session import local_table

# the one data file of each (run_id, bucket) directory
_DATA_FILE = "part-00000.parquet"
# characters Spark percent-escapes in a partition directory value
# (``ExternalCatalogUtils.escapePathName`` off Windows)
_ESCAPED = frozenset(map(chr, range(1, 0x20))) | frozenset(
    '"#%\'*/:=?\\\x7f{[]^'
)


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
    path: str,
    run_id: str,
    wave: int,
    bucket_counts: list[tuple[int, int]],
) -> None:
    run_id = check_run_id(run_id)
    ts = time.time()
    _overwrite_buckets(
        local_table(
            [(run_id, wave, b, "ok", int(n), ts) for b, n in bucket_counts],
            "run_id string, wave int, bucket int, status string, clips long, "
            "ts double",
        ),
        path,
    )


def append_metrics(
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
        local_table([(*r, run_id, wave) for r in rows], schema), path
    )


def _overwrite_buckets(table: pa.Table, path: str) -> None:
    """Replace each ``(run_id, bucket)`` directory's rows with ``table``'s
    rows for that pair, as the one file ``_DATA_FILE``; the partition
    columns live in the directory names only, as Spark lays them out."""
    data = table.drop_columns(["run_id", "bucket"])
    run_ids, buckets = table["run_id"], table["bucket"]
    for run_id, b in sorted(set(zip(run_ids.to_pylist(), buckets.to_pylist()))):
        d = os.path.join(path, f"run_id={_escape(run_id)}", f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{_DATA_FILE}.{uuid.uuid4().hex}.tmp")
        rows = pc.and_(pc.equal(run_ids, run_id), pc.equal(buckets, b))
        pq.write_table(data.filter(rows), tmp, compression="zstd")
        # a legacy Spark part file or a crashed write's temporary file goes
        # BEFORE the rename: a crash in between leaves no row, never two
        for name in os.listdir(d):
            if name not in (os.path.basename(tmp), _DATA_FILE):
                os.remove(os.path.join(d, name))
        os.replace(tmp, os.path.join(d, _DATA_FILE))


def _escape(value: str) -> str:
    """``value`` as Spark spells it in a partition directory name."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)
