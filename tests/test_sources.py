"""Source-dispatch tests: the table-name and path branches of
``read_clips`` (S1; reference analog: the todo-file vs remote-listing
source selection, ``wallaby2caom2/composable.py:115-177``)."""

from __future__ import annotations

import pytest

from wallaby2caom2_spark import datagen
from wallaby2caom2_spark.sources.clips import CLIPS_SCHEMA, read_clips


def test_read_clips_table_branch(spark, tmp_path):
    """A dotted, non-path name dispatches to the catalog (Iceberg's
    ``catalog.db.table`` shape); a filesystem path takes the parquet branch
    with the pinned schema."""
    pdf = datagen.generate_table(50, seed=77).to_pandas()
    df = spark.createDataFrame(pdf, schema=CLIPS_SCHEMA)
    spark.sql("CREATE DATABASE IF NOT EXISTS probe_db")
    try:
        df.write.mode("overwrite").saveAsTable("probe_db.clips_probe")
        got = read_clips(spark, "probe_db.clips_probe")
        assert got.count() == 50
        assert set(got.columns) == {f.name for f in CLIPS_SCHEMA.fields}
    finally:
        spark.sql("DROP TABLE IF EXISTS probe_db.clips_probe")
        spark.sql("DROP DATABASE IF EXISTS probe_db")


def test_read_clips_path_branch(spark, tmp_path):
    path = str(tmp_path / "clips")
    datagen.write_clips_parquet(path, 20, seed=78, rows_per_file=20)
    got = read_clips(spark, path)
    assert got.count() == 20
    # parquet read-back normalizes nullability — compare names/types
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in CLIPS_SCHEMA.fields
    ]


def test_table_name_regex_routing():
    from wallaby2caom2_spark.sources.clips import _TABLE_NAME_RE

    for name in ("db.clips", "catalog.db.clips"):
        assert _TABLE_NAME_RE.fullmatch(name), name
    for path in (
        "s3a://bucket/clips.parquet",
        "data/clips.parquet",
        "/abs/clips.parquet",
        "clips",          # single identifier: default to a path, matches S1
        "a.b.c.d",        # too many parts to be catalog.db.table
    ):
        assert not _TABLE_NAME_RE.fullmatch(path), path


def test_bare_datafile_name_routes_to_path(spark):
    """'clips.parquet' fullmatches the identifier grammar but is a
    cwd-relative FILE — the suffix guard must route it to the parquet
    branch (path-not-found), never the catalog (table-not-found)."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as ei:
        read_clips(spark, "definitely_missing_clips.parquet").collect()
    assert "TABLE_OR_VIEW" not in str(ei.value)


def test_write_results_refuses_missing_partition_column(spark, tmp_path):
    """Silently degrading to an unpartitioned overwrite would truncate
    every committed partition — the sink must refuse instead."""
    from wallaby2caom2_spark.sources.clips import write_results

    df = spark.range(3).withColumnRenamed("id", "clip_id")
    with pytest.raises(ValueError, match="partition column"):
        write_results(df, str(tmp_path / "res"), partition_by="bucket")
    # and nothing was written
    assert not (tmp_path / "res").exists()
