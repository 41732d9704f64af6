"""The wave's bookkeeping: lineage and metrics are written by the driver,
one file per ``(run_id, bucket)`` directory replaced by an atomic rename,
and a single-wave run starts four Spark jobs (the results write and the
read-back aggregation, two each)."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from wallaby2caom2_spark import datagen
from wallaby2caom2_spark.plans.runner import run_resumable
from wallaby2caom2_spark.sources import lineage


@pytest.fixture(scope="module")
def clips_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("sink_in") / "clips")
    datagen.write_clips_parquet(p, 300, seed=23, rows_per_file=100)
    return p


def _rerun_from(out: str, done: list[int]) -> None:
    """Make the checkpoint list only ``done``, so the next run re-runs
    every other bucket over sinks that already hold its rows."""
    ck = os.path.join(out, "checkpoint.json")
    with open(ck) as fh:
        state = json.load(fh)
    state["done"] = done
    with open(ck, "w") as fh:
        json.dump(state, fh)


def _assert_once(spark, out: str, n_clips: int, n_buckets: int) -> None:
    """One lineage row per (run_id, bucket), summing to the corpus, and
    metrics that sum to the same clips."""
    lin = spark.read.parquet(os.path.join(out, "lineage"))
    per = lin.groupBy("run_id", "bucket").count().collect()
    assert sorted(r["bucket"] for r in per) == list(range(n_buckets))
    assert all(r["count"] == 1 for r in per), per
    assert lin.agg(F.sum("clips")).first()[0] == n_clips
    met = spark.read.parquet(os.path.join(out, "metrics"))
    assert met.agg(F.sum("clips")).first()[0] == n_clips


def test_single_wave_runs_four_jobs(spark, clips_path, tmp_path, new_jobs):
    out = str(tmp_path / "out")
    info, jobs = new_jobs(
        lambda: run_resumable(spark, clips_path, out, n_buckets=8, n_waves=1)
    )
    assert info["waves"] == 1
    assert len(jobs) <= 4, sorted(jobs)
    _assert_once(spark, out, 300, 8)


def test_stray_temporary_file_is_invisible_and_removed(
    spark, clips_path, tmp_path
):
    """A crashed write's hidden temporary file is skipped by Spark's
    reader, and the re-run of its bucket removes it."""
    out = str(tmp_path / "out")
    run_resumable(spark, clips_path, out, n_buckets=4, n_waves=1, run_id="rt")
    bucket0 = os.path.join(out, "lineage", "run_id=rt", "bucket=0")
    stray = os.path.join(bucket0, ".part-00000.parquet.dead.tmp")
    # a full row, so a reader that saw it would double-count bucket 0
    shutil.copy(os.path.join(bucket0, "part-00000.parquet"), stray)
    _assert_once(spark, out, 300, 4)

    _rerun_from(out, [1, 2, 3])
    assert run_resumable(spark, clips_path, out, n_buckets=4)["buckets"] == [0]
    assert os.listdir(bucket0) == ["part-00000.parquet"]
    _assert_once(spark, out, 300, 4)


def test_legacy_spark_part_files_are_replaced(spark, clips_path, tmp_path):
    """Sinks written by Spark (``part-…c000`` files plus ``.crc``
    checksums) are replaced, not doubled, when their buckets re-run; the
    buckets that do not re-run keep their legacy files and stay readable."""
    out = str(tmp_path / "out")
    run_resumable(spark, clips_path, out, n_buckets=4, n_waves=1, run_id="rl")
    for tbl in ("lineage", "metrics"):
        path = os.path.join(out, tbl)
        df = spark.read.parquet(path)
        rows, schema = df.collect(), df.schema
        shutil.rmtree(path)
        (
            spark.createDataFrame(rows, schema)
            .coalesce(1)
            .write.partitionBy("run_id", "bucket")
            .parquet(path)
        )
    _assert_once(spark, out, 300, 4)

    _rerun_from(out, [3])
    rerun = run_resumable(spark, clips_path, out, n_buckets=4)
    assert rerun["buckets"] == [0, 1, 2]
    _assert_once(spark, out, 300, 4)
    for tbl in ("lineage", "metrics"):
        root = os.path.join(out, tbl, "run_id=rl")
        for b in range(3):
            assert os.listdir(os.path.join(root, f"bucket={b}")) == [
                "part-00000.parquet"
            ]
        assert any(
            f.endswith("c000.zstd.parquet")
            for f in os.listdir(os.path.join(root, "bucket=3"))
        )


def test_run_id_is_escaped_as_spark_escapes_it(spark, tmp_path):
    """A run_id holding characters Spark escapes in partition directory
    names reads back as written."""
    path = str(tmp_path / "lineage")
    run_id = 'r:a/b%c=d?e#f"g'
    lineage.append_lineage(path, run_id, 0, [(0, 5), (2, 7)])
    escape = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    assert os.listdir(path) == [f"run_id={escape.escapePathName(run_id)}"]
    got = spark.read.parquet(path).collect()
    assert sorted((r["run_id"], r["bucket"], r["clips"]) for r in got) == [
        (run_id, 0, 5),
        (run_id, 2, 7),
    ]


def test_overwrite_replaces_only_the_pairs_written(tmp_path):
    """A second write replaces the (run_id, bucket) files it names and
    leaves every other pair's file as it was."""
    path = str(tmp_path / "lineage")
    lineage.append_lineage(path, "ra", 0, [(0, 1), (1, 2)])
    lineage.append_lineage(path, "ra", 1, [(1, 20)])
    lineage.append_lineage(path, "rb", 0, [(0, 100)])

    def clips(run_id, b):
        table = pq.read_table(
            os.path.join(path, f"run_id={run_id}", f"bucket={b}", "part-00000.parquet")
        )
        assert table.column_names == ["wave", "status", "clips", "ts"]
        assert table.schema.field("clips").type == pa.int64()
        return table["clips"].to_pylist()

    assert clips("ra", 0) == [1]
    assert clips("ra", 1) == [20]
    assert clips("rb", 0) == [100]
