"""Clips table source/sink (S1/S7 analogs).

Reference analogs: todo-file / local-dir / VOSpace work discovery
(``wallaby2caom2/composable.py:115-138,153-177``, ``config/config.yml:17,22``)
all collapse to "scan the input table"; the record sink (``_caom2_store`` /
``write_obs_to_file``, ``wallaby2caom2/tests/test_composable.py:115``)
becomes the results writer.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# 2-3 dot-separated identifiers (db.table or catalog.db.table)
_TABLE_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*){1,2}")
# a bare relative filename ("clips.parquet") would fullmatch the identifier
# grammar above; a data-file suffix always means a storage path
_DATA_FILE_SUFFIXES = (".parquet", ".json", ".csv", ".orc", ".avro")

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)


def _is_schemaless_read(e) -> bool:
    """True only for the 'no parquet footers to infer a schema from' /
    'path does not exist' family — the one read failure that means
    "nothing was written yet", not "the read broke". Shared by every sink
    that bootstraps or tolerates an empty table (runner, export)."""
    get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    cond = (get() if get else None) or ""
    return cond.startswith(("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")) or (
        "UNABLE_TO_INFER_SCHEMA" in str(e) or "PATH_NOT_FOUND" in str(e)
    )


def read_clips(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with the pinned schema → Catalyst gets pushdown +
    pruning for free; a catalog table name (``catalog.db.clips``) is read
    via ``spark.read.table``.

    A table NAME is dot-separated identifiers only — anything with a path
    separator, a URI scheme (``s3a://…/clips.parquet``, ``data/x.parquet``)
    or a data-file suffix (a cwd-relative ``clips.parquet`` has neither
    separator nor scheme) is a storage path, even though it contains
    dots."""
    if _TABLE_NAME_RE.fullmatch(path) and not path.lower().endswith(
        _DATA_FILE_SUFFIXES
    ):
        return spark.read.table(path)
    return spark.read.schema(CLIPS_SCHEMA).parquet(path)


def write_results(df: DataFrame, path: str, partition_by: str | None = "bucket") -> None:
    """Idempotent partitioned write: with dynamic partitionOverwriteMode a
    re-run replaces exactly the partitions it recomputes — the Parquet
    stand-in for Iceberg's ``MERGE INTO`` keyed on clip_id. The mode is set
    per-write so idempotence holds even under an externally-built session
    whose default is STATIC (which would truncate untouched partitions)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        if partition_by not in df.columns:
            # silently falling through to an unpartitioned overwrite would
            # TRUNCATE every previously committed partition — permanent
            # loss the resume contract can never repair. Fail loudly.
            raise ValueError(
                f"write_results: partition column {partition_by!r} missing "
                f"from result columns {df.columns} — refusing the implicit "
                "full-table overwrite"
            )
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            partition_by
        )
    writer.parquet(path)
