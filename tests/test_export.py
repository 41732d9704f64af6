"""Training-shard export job (plans/export.py): manifest/shard agreement,
tensor geometry, idempotent re-run, validation failure detection."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from wallaby2caom2_spark import datagen
from pyspark.sql import functions as F

from wallaby2caom2_spark.plans.export import (
    export_packed_shards,
    export_training_shards,
    validate_shards,
)


@pytest.fixture(scope="module")
def export_run(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("export"))
    clips = os.path.join(work, "clips")
    out = os.path.join(work, "out")
    datagen.write_clips_parquet(clips, 600, seed=7)
    manifest = export_training_shards(spark, clips, out, n_buckets=4)
    return clips, out, manifest


def test_manifest_matches_shards(spark, export_run):
    _, out, manifest = export_run
    assert manifest["n_buckets"] == 4
    assert manifest["n_clips"] > 0
    on_disk = json.load(open(os.path.join(out, "manifest.json")))
    assert on_disk == manifest
    shards = spark.read.parquet(os.path.join(out, "shards"))
    assert shards.count() == manifest["n_clips"]
    # every shard row is a kept clip with a real tensor + scrubbed text
    assert shards.filter("feat_bytes IS NULL").count() == 0
    assert shards.filter("scrubbed_transcript IS NULL").count() == 0


def test_validation_passes_and_tensor_geometry_holds(spark, export_run):
    _, out, manifest = export_run
    per_bucket = {int(r["bucket"]): r for r in validate_shards(spark, out).collect()}
    assert set(per_bucket) == set(int(b) for b in manifest["buckets"])
    row = spark.read.parquet(os.path.join(out, "shards")).first()
    feats = np.frombuffer(bytes(row["feat_bytes"]), dtype=np.float32)
    assert feats.shape[0] == row["n_frames"] * row["n_bands"]


def test_rerun_is_idempotent(spark, export_run):
    clips, out, manifest = export_run
    again = export_training_shards(spark, clips, out, n_buckets=4)
    assert again == manifest


def test_stale_inrange_bucket_detected(spark, tmp_path):
    """A prior export of a DIFFERENT corpus can leave in-range buckets this
    run never writes; folding them into the manifest would hand the
    dataloader foreign clips. The exact written-set guard must catch it
    (review finding, round 2 — the old check only caught >= n_buckets)."""
    clips = str(tmp_path / "clips")
    out = str(tmp_path / "out")
    datagen.write_clips_parquet(clips, 120, seed=13)
    export_training_shards(spark, clips, out, n_buckets=64)
    shards = os.path.join(out, "shards")
    written = {
        int(d.split("=")[1])
        for d in os.listdir(shards)
        if d.startswith("bucket=")
    }
    missing = [b for b in range(64) if b not in written]
    assert missing, "fixture too large: every bucket written"
    src = os.path.join(shards, f"bucket={sorted(written)[0]}")
    shutil.copytree(src, os.path.join(shards, f"bucket={missing[0]}"))
    with pytest.raises(ValueError, match="stale"):
        export_training_shards(spark, clips, out, n_buckets=64)


def test_manifest_bucket_bound_enforced(spark, tmp_path):
    """The per-bucket manifest collect is bounded: a bucket count above
    MANIFEST_MAX_BUCKETS must fail before any Spark work runs."""
    import pytest as _pytest

    from wallaby2caom2_spark.plans.export import (
        MANIFEST_MAX_BUCKETS,
        export_training_shards,
    )

    with _pytest.raises(ValueError, match="MANIFEST_MAX_BUCKETS"):
        export_training_shards(
            spark,
            str(tmp_path / "unused"),
            str(tmp_path / "out"),
            n_buckets=MANIFEST_MAX_BUCKETS + 1,
        )


def test_export_plan_is_join_free_and_payload_shuffle_free(spark, tmp_path):
    """The shard frame must plan with no join operator at all (keep + scrub
    + tensors flow through passthrough columns) and no Exchange carrying the
    payload or tensor columns."""
    import io
    import re
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from wallaby2caom2_spark import datagen
    from wallaby2caom2_spark.operators import cascade
    from wallaby2caom2_spark.operators.features import feature_frames
    from wallaby2caom2_spark.operators.fused_stage import (
        with_fused_features_retaining,
    )

    inp = str(tmp_path / "clips")
    datagen.write_clips_parquet(inp, 50, seed=3, rows_per_file=50)
    clips = spark.read.parquet(inp)
    labeled = cascade.label(with_fused_features_retaining(clips))
    kept = labeled.filter(F.col("keep")).select(
        "clip_id", "bytes", "codec", "sr_hz", "lang", "scrubbed_transcript"
    )
    feats = feature_frames(
        kept, passthrough=("lang", "scrubbed_transcript")
    ).filter(F.col("feat_ok"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        feats.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan  # fully narrow up to the sink
    assert not re.search(r"\bbytes#\d+", plan.split("== Physical Plan ==")[0])


def test_empty_corpus_exports_zero_manifest(spark, tmp_path):
    """Every clip dropping must yield an empty manifest, not an
    UNABLE_TO_INFER_SCHEMA crash on the read-back."""
    from wallaby2caom2_spark.sources.clips import CLIPS_SCHEMA

    clips = str(tmp_path / "clips")
    out = str(tmp_path / "out")
    rows = [(f"c{i}", b"", 16000, 100, "bad", "x") for i in range(5)]
    spark.createDataFrame(rows, CLIPS_SCHEMA).write.parquet(clips)
    manifest = export_training_shards(spark, clips, out, n_buckets=4)
    assert manifest["n_clips"] == 0
    assert manifest["buckets"] == {}


def test_validation_detects_count_mismatch(spark, export_run):
    _, out, _ = export_run
    broken = os.path.join(out, "..", "broken")
    shutil.copytree(out, broken, dirs_exist_ok=True)
    m = json.load(open(os.path.join(broken, "manifest.json")))
    first = next(iter(m["buckets"]))
    m["buckets"][first]["n_clips"] += 1
    json.dump(m, open(os.path.join(broken, "manifest.json"), "w"))
    with pytest.raises(ValueError, match="count mismatch"):
        validate_shards(spark, broken)


def test_validate_shards_detects_stale_buckets(spark, tmp_path):
    """A re-export with fewer buckets would leave stale partition dirs the
    manifest read-back silently folds in (duplicate clips to the
    dataloader) — the export must fail fast; a hand-planted stale dir must
    also fail the standalone validation."""
    work = str(tmp_path)
    clips = os.path.join(work, "clips")
    out = os.path.join(work, "exp")
    datagen.write_clips_parquet(clips, 200, seed=9)
    export_training_shards(spark, clips, out, n_buckets=8)
    with pytest.raises(ValueError, match="stale"):
        export_training_shards(spark, clips, out, n_buckets=2)

    # standalone validation: plant a stale dir beside a clean 4-bucket
    # export and rewrite the manifest to mention only buckets 0-3
    out2 = os.path.join(work, "exp2")
    export_training_shards(spark, clips, out2, n_buckets=4)
    shards = os.path.join(out2, "shards")
    src = next(d for d in os.listdir(shards) if d.startswith("bucket="))
    shutil.copytree(os.path.join(shards, src), os.path.join(shards, "bucket=9"))
    with pytest.raises(ValueError, match="stale"):
        validate_shards(spark, out2)


@pytest.fixture(scope="module")
def packed_run(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("packed"))
    clips = os.path.join(work, "clips")
    out = os.path.join(work, "out")
    datagen.write_clips_parquet(clips, 600, seed=7)
    manifest = export_packed_shards(spark, clips, out, budget_ms=20_000)
    return clips, out, manifest


def test_packed_manifest_matches_shards(spark, packed_run):
    """Packed export: shards on disk agree with the manifest, every shard
    respects the straddler overflow bound, and non-final shards reach
    their budget (offset rule, operators/packing.py)."""
    _, out, manifest = packed_run
    assert manifest["n_shards"] > 1
    shards = spark.read.parquet(os.path.join(out, "shards"))
    assert shards.count() == manifest["n_clips"]
    per = {
        (int(r["shard_id"])): (r["cnt"], r["ms"])
        for r in shards.groupBy("shard_id")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("dur_pack_ms").alias("ms"),
        )
        .collect()
    }
    max_dur = int(
        shards.agg({"dur_pack_ms": "max"}).collect()[0][0]
    )
    budget = manifest["budget_ms"]
    assert set(per) == {int(s) for s in manifest["shards"]}
    for sid, info in manifest["shards"].items():
        cnt, ms = per[int(sid)]
        assert cnt == info["n_clips"]
        assert ms == info["total_ms"]
        assert info["total_ms"] <= budget + max_dur
        assert info["fill_pct"] == round(info["total_ms"] * 100.0 / budget, 4)


def test_packed_membership_matches_serial_offset_rule(spark, packed_run):
    """The on-disk shard of every clip equals the serial offset-rule
    reference computed from (order_key, duration) alone."""
    _, out, _ = packed_run
    rows = (
        spark.read.parquet(os.path.join(out, "shards"))
        .selectExpr(
            "cast(substring(clip_id, -10, 10) as long) AS k",
            "dur_pack_ms AS dur",
            "shard_id",
        )
        .collect()
    )
    order = sorted(rows, key=lambda r: r["k"])
    off = 0
    for r in order:
        assert r["shard_id"] == off // 20_000, r
        off += r["dur"]


def test_packed_rerun_is_idempotent(spark, packed_run):
    clips, out, manifest = packed_run
    again = export_packed_shards(spark, clips, out, budget_ms=20_000)
    assert again == manifest


def test_packed_plan_has_exactly_one_payload_exchange(spark, tmp_path):
    """The packed frame's contract: join-free, and the ONE exchange that
    carries tensor/payload columns is the packing window's — the sink
    regrouping itself. A second payload-bearing exchange (e.g. a join-back
    sneaking in) fails here."""
    import io
    import re
    from contextlib import redirect_stdout

    from wallaby2caom2_spark.plans.export import packed_shard_frame

    inp = str(tmp_path / "clips")
    datagen.write_clips_parquet(inp, 50, seed=3, rows_per_file=50)
    frame = packed_shard_frame(spark, inp, budget_ms=20_000)
    buf = io.StringIO()
    with redirect_stdout(buf):
        frame.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan, plan
    payload = re.compile(r"\b(bytes|feat_bytes)#\d+")
    n_payload_exchanges = 0
    for block in plan.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if head.startswith("(") and "Exchange" in head and "Broadcast" not in head:
            inp_line = next(
                (l for l in block.splitlines() if l.startswith("Input")), ""
            )
            if payload.search(inp_line):
                n_payload_exchanges += 1
    assert n_payload_exchanges == 1, plan
