"""Kill/restart exactly-once tests (reference analog: state bookmark +
retry bookkeeping, ``config/state.yml:1-3`` + ``config/config.yml:38-47``;
orchestration-test style of ``wallaby2caom2/tests/test_composable.py:112-151``
— run, assert per-item effects and counts)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wallaby2caom2_spark import datagen
from wallaby2caom2_spark.plans.runner import SimulatedCrash, run_resumable


@pytest.fixture(scope="module")
def clips_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("clips_in") / "clips")
    datagen.write_clips_parquet(p, 600, seed=11)
    return p


def test_crash_then_resume_exactly_once(spark, clips_path, tmp_path):
    out = str(tmp_path / "out")
    with pytest.raises(SimulatedCrash):
        run_resumable(
            spark, clips_path, out, n_buckets=8, n_waves=4, fail_after_wave=1
        )
    # partial state: some buckets committed, not all
    done_partial = set()
    import json

    with open(os.path.join(out, "checkpoint.json")) as f:
        done_partial = set(json.load(f)["done"])
    assert 0 < len(done_partial) < 8

    summary = run_resumable(spark, clips_path, out, n_buckets=8, n_waves=4)
    assert set(summary["buckets"]) == set(range(8)) - done_partial

    result = spark.read.parquet(os.path.join(out, "results"))
    # exactly-once: every clip appears exactly once
    assert result.count() == 600
    assert result.select("clip_id").distinct().count() == 600
    # third run is a no-op
    assert run_resumable(spark, clips_path, out, n_buckets=8)["waves"] == 0


def test_resume_reuses_checkpoint_run_id(spark, clips_path, tmp_path):
    """The checkpoint owns the run_id: a resume that minted a fresh uuid
    would leave the crashed attempt's lineage under the old id and
    double-count re-run buckets (review finding, round 2)."""
    out = str(tmp_path / "out")
    with pytest.raises(SimulatedCrash):
        run_resumable(
            spark, clips_path, out, n_buckets=8, n_waves=4, fail_after_wave=0
        )
    resumed = run_resumable(spark, clips_path, out, n_buckets=8, n_waves=4)
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    run_ids = [r["run_id"] for r in lineage.select("run_id").distinct().collect()]
    assert len(run_ids) == 1, f"resume minted a new run_id: {run_ids}"
    assert resumed["run_id"] == run_ids[0]
    # and no bucket's lineage is recorded twice
    dup = lineage.groupBy("bucket").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_results_match_single_shot(spark, clips_path, tmp_path):
    from wallaby2caom2_spark.plans.pipeline import quality_filter
    from wallaby2caom2_spark.sources.clips import read_clips

    out = str(tmp_path / "out2")
    run_resumable(spark, clips_path, out, n_buckets=4, n_waves=2)
    resumed = spark.read.parquet(os.path.join(out, "results"))
    single = quality_filter(read_clips(spark, clips_path))
    a = {r["clip_id"]: (r["keep"], r["drop_reason"]) for r in resumed.collect()}
    b = {r["clip_id"]: (r["keep"], r["drop_reason"]) for r in single.collect()}
    assert a == b


def test_lineage_covers_all_buckets(spark, clips_path, tmp_path):
    out = str(tmp_path / "out3")
    run_resumable(spark, clips_path, out, n_buckets=4, n_waves=2, run_id="r1")
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert set(
        r["bucket"] for r in lineage.select("bucket").distinct().collect()
    ) == set(range(4))
    total = lineage.agg(F.sum("clips")).collect()[0][0]
    assert total == 600
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.filter(F.col("outcome") == "kept").count() > 0


def test_crash_after_sinks_does_not_double_count(spark, clips_path, tmp_path):
    """A crash AFTER lineage/metrics are written but BEFORE the checkpoint
    commit re-runs that wave on resume; the (run_id, bucket)-partitioned
    dynamic overwrite must replace — not append — the wave's rows, so
    summed metrics stay exact."""
    out = str(tmp_path / "out_dc")
    with pytest.raises(SimulatedCrash):
        run_resumable(
            spark, clips_path, out, n_buckets=4, n_waves=4,
            run_id="fixed", fail_after_wave=1,
        )
    # resume with the SAME run_id: wave rows must be replaced, not doubled
    # (the crashed wave 1 was fully sunk but never checkpointed — delete its
    # checkpoint entry to force the re-run of a wave whose sinks exist)
    import json

    ck = os.path.join(out, "checkpoint.json")
    with open(ck) as f:
        state = json.load(f)
    state["done"] = state["done"][:1]  # pretend only wave 0's first bucket committed
    with open(ck, "w") as f:
        json.dump(state, f)

    run_resumable(spark, clips_path, out, n_buckets=4, n_waves=4, run_id="fixed")
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    per = lineage.groupBy("run_id", "wave", "bucket").count().collect()
    assert all(r["count"] == 1 for r in per), per
    total = lineage.agg(F.sum("clips")).collect()[0][0]
    assert total == 600
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    kept_total = (
        metrics.filter(F.col("outcome") == "kept").agg(F.sum("clips")).collect()[0][0]
    )
    single = spark.read.parquet(os.path.join(out, "results"))
    assert kept_total == single.filter(F.col("keep")).count()


def test_partially_empty_wave_backfills_zero_lineage(spark, tmp_path):
    """A wave where SOME buckets produce rows and others none: the empty
    buckets must still get an explicit zero-count lineage row (the groupBy
    over written results only sees non-empty buckets), so lineage bucket
    coverage is identical to the all-empty path."""
    inp = str(tmp_path / "sparse_in")
    # 3 clips across 64 buckets, one wave → most buckets in the wave are empty
    datagen.write_clips_parquet(inp, 3, seed=5, rows_per_file=3)
    out = str(tmp_path / "sparse_out")
    summary = run_resumable(spark, inp, out, n_buckets=64, n_waves=1)
    assert set(summary["buckets"]) == set(range(64))
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    rows = {int(r["bucket"]): int(r["clips"]) for r in lineage.collect()}
    assert set(rows) == set(range(64))  # EVERY committed bucket has a row
    assert sum(rows.values()) == 3
    assert 0 in set(rows.values())  # the empty buckets carry explicit zeros


def test_sink_schemas_and_per_bucket_totals(spark, tmp_path):
    """Pins what consumers read back from the two sinks: the column types
    (``wave`` stays int, ``run_id`` string, ``bucket`` int) and, per
    bucket, metrics clips summing to the lineage count — across a wave in
    which some buckets produced rows and others none."""
    inp = str(tmp_path / "sparse_in")
    # 3 clips over two 4-bucket waves: at least one wave mixes buckets
    # with rows and buckets without
    datagen.write_clips_parquet(inp, 3, seed=5, rows_per_file=3)
    out = str(tmp_path / "sparse_out")
    run_resumable(spark, inp, out, n_buckets=8, n_waves=2)
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert dict(lineage.dtypes) == {
        "run_id": "string", "wave": "int", "bucket": "int",
        "status": "string", "clips": "bigint", "ts": "double",
    }
    assert dict(metrics.dtypes) == {
        "outcome": "string", "clips": "bigint", "scrub_edits": "bigint",
        "kept": "boolean", "wave": "int", "run_id": "string", "bucket": "int",
    }
    lin = {(r["wave"], r["bucket"]): r["clips"] for r in lineage.collect()}
    assert sorted(b for _, b in lin) == list(range(8))
    per_bucket = {
        r["bucket"]: r["n"]
        for r in metrics.groupBy("bucket").agg(F.sum("clips").alias("n")).collect()
    }
    assert {b: n for (_, b), n in lin.items() if n} == per_bucket
    assert sum(lin.values()) == 3


def test_empty_input_commits_zero_count_lineage(spark, tmp_path):
    """An input with zero rows writes no parquet footers; the runner must
    still commit every bucket with zero-count lineage instead of aborting
    on the unreadable results dir."""
    from wallaby2caom2_spark.sources.clips import CLIPS_SCHEMA

    inp = str(tmp_path / "empty_in")
    spark.createDataFrame([], CLIPS_SCHEMA).write.parquet(inp)
    out = str(tmp_path / "empty_out")
    summary = run_resumable(spark, inp, out, n_buckets=4, n_waves=2)
    assert set(summary["buckets"]) == set(range(4))
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.agg(F.sum("clips")).collect()[0][0] == 0
    assert run_resumable(spark, inp, out, n_buckets=4)["waves"] == 0


def test_wave_write_is_one_file_per_bucket(spark, clips_path, tmp_path):
    """Small-files contract of the wave sink: the bucket-hash exchange
    before the partitioned write means each bucket dir holds exactly one
    data file per wave that touched it (single-run: one file total)."""
    import glob

    out = str(tmp_path / "out")
    run_resumable(spark, clips_path, out, n_buckets=8, n_waves=2)
    dirs = glob.glob(os.path.join(out, "results", "bucket=*"))
    assert len(dirs) == 8
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_run_id_survives_partition_type_inference(spark, clips_path, tmp_path):
    """run_id is a partition DIRECTORY value, and Spark type-infers those
    on read: a bare 12-char hex id shaped like ``6e0612805002`` read back
    as the double 6e+612 → Infinity (observed live). Minted ids carry an
    ``r`` prefix and the sinks refuse number-parseable ids loudly."""
    out = str(tmp_path / "out")
    info = run_resumable(spark, clips_path, out, n_buckets=2, n_waves=1)
    assert info["run_id"].startswith("r")
    for tbl in ("lineage", "metrics"):
        df = spark.read.parquet(os.path.join(out, tbl))
        assert dict(df.dtypes)["run_id"] == "string", tbl
        got = {r["run_id"] for r in df.select("run_id").distinct().collect()}
        assert got == {info["run_id"]}, tbl


def test_invalid_run_id_fails_before_any_wave(spark, clips_path, tmp_path):
    """A bad caller-supplied run_id must be rejected BEFORE any wave
    executes (fail fast), not at the first lineage append after a full
    wave of decode work."""
    out = str(tmp_path / "out_badid")
    with pytest.raises(ValueError):
        run_resumable(
            spark, clips_path, out, n_buckets=2, n_waves=1,
            run_id="2026-08-21",
        )
    assert not os.path.exists(os.path.join(out, "results"))


def test_number_parseable_run_id_refused():
    from wallaby2caom2_spark.sources.lineage import check_run_id

    assert check_run_id("r6e0612805002") == "r6e0612805002"
    assert check_run_id("fixed") == "fixed"
    assert check_run_id("r2026-08-21") == "r2026-08-21"
    # numbers, float spellings, AND date/timestamp-shaped ids: Spark's
    # partition reader type-infers all of them on read-back
    for bad in (
        "6e0612805002", "123", "1.5", "inf", "nan", "Infinity", "NaN",
        "2026-08-21", "2026-08-21 07:00:00", "", "_tmp", "99bottles",
    ):
        with pytest.raises(ValueError):
            check_run_id(bad)
