"""Training-shard export — the terminal sink of the quality-filter pipeline.

What a downstream trainer actually consumes: for every KEPT clip, the
scrubbed transcript plus the filterbank feature tensor, laid out as
bucket-partitioned parquet shards with a manifest recording per-bucket
counts (the contract a dataloader validates before reading).

Scale shape:
- ONE scan, ZERO joins: the keep decision + scrubbed transcript attach via
  the payload-retaining fused stage (operators/fused_stage.py — payload
  stays JVM-side), the codegen cascade filters in place, and the feature
  stage carries (lang, scrubbed_transcript) through as passthrough columns
  — so pass 2's tensor extract runs on survivors only and nothing is ever
  re-keyed on clip_id. The round-2 form read the corpus twice (semi-join)
  and shuffled two slim sides; this form shuffles only the final shard
  rows into their bucket partitions via the write.
- the write is dynamic-partition-overwrite keyed on the deterministic
  bucket hash, so re-running a crashed export converges to the same
  shards (same idempotence contract as the wave runner);
- the manifest derives from ONE tiny aggregation (n_buckets rows) — the
  only driver-side collect, explicitly bounded by MANIFEST_MAX_BUCKETS.

Reference analog: the record sink + success/progress bookkeeping pair
(``wallaby2caom2/composable.py`` store + ``config/config.yml:28-54`` logs),
re-expressed as shards + manifest.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cascade
from ..operators.features import feature_frames
from ..operators.fused_stage import with_fused_features_retaining
from ..operators.partitioning import with_bucket
from ..session import local_frame
from ..sources.clips import read_clips

# the per-bucket manifest collect is the export's only driver round-trip;
# it returns exactly one row per written bucket, so the bound is the bucket
# count itself — a mis-parameterized export (per-clip "buckets") must fail
# loudly instead of collecting millions of rows onto the driver
MANIFEST_MAX_BUCKETS = 100_000


def export_training_shards(
    spark: SparkSession,
    clips_path: str,
    out_path: str,
    n_buckets: int = 8,
) -> dict:
    """Run filter → features (join-free) → bucketed shard write + manifest.

    Returns the manifest dict: {"n_clips": N, "n_buckets": B,
    "buckets": {bucket: {"n_clips": n, "n_frames": f}}}.
    """
    if n_buckets > MANIFEST_MAX_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds MANIFEST_MAX_BUCKETS="
            f"{MANIFEST_MAX_BUCKETS}: the manifest is a driver-side JSON of "
            "one entry per bucket — shard into coarser buckets or split the "
            "export"
        )
    clips = read_clips(spark, clips_path)
    # keep decision + scrub attach narrowly (payload stays JVM-side, zero
    # exchanges — same building block as plans/pipeline.kept_clips, kept
    # inline here because the lang/scrubbed columns must survive the filter)
    labeled = cascade.label(with_fused_features_retaining(clips))
    kept_payload = labeled.filter(F.col("keep")).select(
        "clip_id", "bytes", "codec", "sr_hz", "lang", "scrubbed_transcript"
    )
    feats = feature_frames(
        kept_payload, passthrough=("lang", "scrubbed_transcript")
    ).filter(F.col("feat_ok"))
    shard = with_bucket(
        feats.select(
            "clip_id", "lang", "scrubbed_transcript", "n_frames", "n_bands",
            "feat_bytes",
        ),
        n_buckets,
    )

    from pyspark.storagelevel import StorageLevel

    shard = shard.persist(StorageLevel.DISK_ONLY)
    try:
        # the partitions THIS run owns — dynamic overwrite replaces only
        # these, so the read-back is checked against this EXACT set (not a
        # bucket-range test: a prior export of a different corpus into the
        # same dir can leave stale IN-RANGE buckets this run didn't write,
        # which a `>= n_buckets` check would silently fold into the
        # manifest — foreign clips to the dataloader). Same guard as
        # plans/curate.py.
        written = {
            int(r["bucket"])
            for r in shard.select("bucket").distinct().collect()
        }
        (
            shard.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(os.path.join(out_path, "shards"))
        )
        # always read back — even a zero-survivor export must still detect
        # stale partitions a prior export left in the dir
        per_bucket = (
            _read_shards_or_empty(
                spark,
                os.path.join(out_path, "shards"),
                "bucket int, n_frames int",
            )
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n_clips"),
                F.sum("n_frames").alias("n_frames"),
            )
            .collect()
        )
    finally:
        shard.unpersist()
    stale = sorted(int(r["bucket"]) for r in per_bucket if int(r["bucket"]) not in written)
    if stale:
        raise ValueError(
            f"shards dir has stale buckets {stale} from a previous export "
            f"— clear {os.path.join(out_path, 'shards')} before re-exporting"
        )
    manifest = {
        "n_clips": int(sum(r["n_clips"] for r in per_bucket)),
        "n_buckets": n_buckets,
        # string keys: the manifest is a JSON artifact — keep the in-memory
        # dict identical to its serialized round-trip
        "buckets": {
            str(int(r["bucket"])): {
                "n_clips": int(r["n_clips"]),
                "n_frames": int(r["n_frames"]),
            }
            for r in per_bucket
        },
    }
    write_manifest_atomic(out_path, manifest)
    return manifest


def _read_shards_or_empty(
    spark: SparkSession, shards_path: str, empty_schema: str
) -> DataFrame:
    """Read-back that tolerates exactly the no-footers case (an export
    whose every clip was filtered out writes only _SUCCESS, or nothing);
    any other read failure propagates. ``empty_schema`` covers the columns
    the caller's aggregation touches."""
    from pyspark.errors import AnalysisException

    from ..sources.clips import _is_schemaless_read

    try:
        return spark.read.parquet(shards_path)
    except AnalysisException as e:
        if not _is_schemaless_read(e):
            raise
        return local_frame(spark, [], empty_schema)


def write_manifest_atomic(out_path: str, manifest: dict) -> None:
    """tmp-file + atomic rename: readers never observe a torn manifest.
    Shared by this sink and plans/curate.py."""
    tmp = os.path.join(out_path, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_path, "manifest.json"))


def validate_shards(spark: SparkSession, out_path: str) -> DataFrame:
    """Dataloader-style validation: per-bucket parquet counts must equal the
    manifest, and every tensor buffer must match its declared geometry
    (n_frames x n_bands x 4 bytes). Returns the per-bucket check table."""
    with open(os.path.join(out_path, "manifest.json")) as fh:
        manifest = json.load(fh)
    shards = spark.read.parquet(os.path.join(out_path, "shards"))
    checked = shards.withColumn(
        "geom_ok",
        F.length("feat_bytes") == F.col("n_frames") * F.col("n_bands") * 4,
    )
    per_bucket = checked.groupBy("bucket").agg(
        F.count("*").alias("n_clips"),
        F.sum(F.col("geom_ok").cast("int")).alias("n_geom_ok"),
    )
    rows = {int(r["bucket"]): r for r in per_bucket.collect()}
    # set equality, not manifest-driven lookup: dynamic partition overwrite
    # only replaces the buckets it writes, so a re-export with a smaller
    # n_buckets leaves STALE bucket directories on disk that a
    # manifest-only walk would never visit — the dataloader would silently
    # read duplicate clips from them
    manifest_buckets = {int(b) for b in manifest["buckets"]}
    stale = set(rows) - manifest_buckets
    if stale:
        raise ValueError(
            f"stale shard buckets not in manifest: {sorted(stale)} "
            "(re-export left old partitions behind — clear the shards dir)"
        )
    for b, meta in manifest["buckets"].items():
        r = rows.get(int(b))
        if r is None or int(r["n_clips"]) != meta["n_clips"]:
            raise ValueError(f"bucket {b}: manifest/shard count mismatch")
        if int(r["n_geom_ok"]) != int(r["n_clips"]):
            raise ValueError(f"bucket {b}: tensor geometry corruption")
    return per_bucket


def packed_shard_frame(
    spark: SparkSession, clips_path: str, budget_ms: int = 60_000
) -> DataFrame:
    """The lazy packed-shard DataFrame ``export_packed_shards`` writes:
    narrow keep/scrub attach → narrow feature extract → duration-budget
    packing (the window's exchange is the ONE payload movement — the sink
    regrouping itself). Exposed so the plan-shape test can pin the
    one-payload-exchange bound without running the write."""
    from ..operators import packing

    clips = read_clips(spark, clips_path)
    labeled = cascade.label(with_fused_features_retaining(clips))
    kept_payload = labeled.filter(F.col("keep")).select(
        "clip_id", "bytes", "codec", "sr_hz", "lang",
        "scrubbed_transcript", "dur_ms_meas",
    )
    feats = feature_frames(
        kept_payload,
        passthrough=("lang", "scrubbed_transcript", "dur_ms_meas"),
    ).filter(F.col("feat_ok"))
    # content-derived packing key: unique numeric id suffix — deterministic
    # and layout-independent, so a re-run (or the DuckDB oracle) reproduces
    # the same shard membership regardless of file order
    keyed = feats.withColumn(
        "order_key", F.substring(F.col("clip_id"), -10, 10).cast("long")
    ).withColumn("dur_pack_ms", F.col("dur_ms_meas").cast("long"))
    return packing.pack_by_budget(
        keyed, dur_col="dur_pack_ms", order_col="order_key",
        budget_ms=budget_ms,
    ).select(
        "clip_id", "lang", "scrubbed_transcript", "n_frames", "n_bands",
        "feat_bytes", "dur_pack_ms", "shard_id",
    )


def export_packed_shards(
    spark: SparkSession,
    clips_path: str,
    out_path: str,
    budget_ms: int = 60_000,
) -> dict:
    """Packed-shard export: the bucket hash of ``export_training_shards``
    replaced by the deterministic duration-budget packing
    (operators/packing.py) — each output partition is one ~budget-sized
    training shard, the layout a sequence-packing dataloader consumes
    directly instead of re-packing per epoch.

    Payload-movement contract (deliberately different from the hash-bucket
    export): shard assembly IS a physical regrouping — every clip's tensor
    must land in its shard's file, so the payload crosses EXACTLY ONE
    exchange, the packing window's, and that exchange is the sink movement
    itself (the same shuffle a bucketed-table write pays once at write
    time). Nothing else moves bytes: the keep/scrub decision attaches
    narrowly (payload-retaining fused stage), features extract narrowly,
    and the shard write after the window is dynamic-partition with no
    further exchange. Pinned by tests/test_export.py (exactly one
    payload-bearing exchange). At lakehouse scale the same one-movement
    bound holds as: write the slim (clip_id → shard_id) assignment as a
    clip_id-bucketed table and co-located-join it to a clip_id-bucketed
    clips table (sources/bucketed.py) — the movement becomes the bucketed
    write's.

    The manifest records per-shard clip counts, frame counts, and fill
    percentage against the budget (straddler overflow included — bounded
    by one clip, operators/packing.py).
    """
    if budget_ms <= 0:
        raise ValueError(f"budget_ms must be positive, got {budget_ms}")
    packed = packed_shard_frame(spark, clips_path, budget_ms)

    from pyspark.storagelevel import StorageLevel

    packed = packed.persist(StorageLevel.DISK_ONLY)
    try:
        written = {
            int(r["shard_id"])
            for r in packed.select("shard_id").distinct().collect()
        }
        if len(written) > MANIFEST_MAX_BUCKETS:
            raise ValueError(
                f"{len(written)} shards exceeds MANIFEST_MAX_BUCKETS="
                f"{MANIFEST_MAX_BUCKETS}: raise budget_ms or split the "
                "export"
            )
        (
            packed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard_id")
            .parquet(os.path.join(out_path, "shards"))
        )
        per_shard = (
            _read_shards_or_empty(
                spark,
                os.path.join(out_path, "shards"),
                "shard_id bigint, n_frames int, dur_pack_ms bigint",
            )
            .groupBy("shard_id")
            .agg(
                F.count("*").alias("n_clips"),
                F.sum("n_frames").alias("n_frames"),
                F.sum("dur_pack_ms").alias("total_ms"),
            )
            .collect()
        )
    finally:
        packed.unpersist()
    stale = sorted(
        int(r["shard_id"]) for r in per_shard
        if int(r["shard_id"]) not in written
    )
    if stale:
        raise ValueError(
            f"shards dir has stale shards {stale} from a previous export "
            f"— clear {os.path.join(out_path, 'shards')} before re-exporting"
        )
    manifest = {
        "n_clips": int(sum(r["n_clips"] for r in per_shard)),
        "budget_ms": budget_ms,
        "n_shards": len(per_shard),
        "shards": {
            str(int(r["shard_id"])): {
                "n_clips": int(r["n_clips"]),
                "n_frames": int(r["n_frames"]),
                "total_ms": int(r["total_ms"]),
                "fill_pct": round(int(r["total_ms"]) * 100.0 / budget_ms, 4),
            }
            for r in per_shard
        },
    }
    write_manifest_atomic(out_path, manifest)
    return manifest


# ---------------------------------------------------------------------------
# preview artifact sink — persisted PNG files + manifest (S11 closure)
# ---------------------------------------------------------------------------

_PREVIEW_FLAVORS = ("waveform", "spectrogram")


def export_preview_artifacts(
    spark: SparkSession,
    clips_path: str,
    out_path: str,
    n_buckets: int = 8,
    flavor: str = "waveform",
) -> dict:
    """Persist per-clip preview PNGs as individual artifact FILES (the
    reference persists ``<file_id>_prev_256.png`` thumbnails,
    ``wallaby2caom2/preview_augmentation.py:77-97``) plus a manifest —
    previews as binary columns (queries/clips_flagship.py) cover the query
    surface; this sink covers the artifact-store contract.

    Layout: ``out_path/previews-<flavor>/bucket=<b>/<clip_id>_prev_256.png``
    (``_spec_`` names for spectrograms), with the manifest INSIDE the
    flavor dir — the two flavors are independent artifact sets, so they
    never share bucket dirs or clobber each other's manifest (exporting
    both into one ``out_path`` leaves two self-describing dirs).
    Executors write the files directly —
    each task owns whole buckets, file bytes are deterministic from the
    payload, and each file lands via tmp + atomic rename, so task retries
    and re-runs converge (same idempotence contract as the parquet
    sinks). On a multi-node cluster ``out_path`` must be shared storage
    (object store / NFS), exactly like any Spark sink path.

    Stale guard (same contract as export_training_shards): after the
    write, any on-disk bucket directory this run did not produce is a
    foreign artifact set and fails the export loudly instead of folding
    into the manifest.

    Scale shape: decode+render is the one Python crossing; ONE exchange
    routes slim (id, name, png) rows so each bucket is written by exactly
    one task; the manifest aggregation is per-bucket (bounded by
    MANIFEST_MAX_BUCKETS like the shard manifest).
    """
    from ..operators import preview as preview_op

    if n_buckets > MANIFEST_MAX_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds MANIFEST_MAX_BUCKETS="
            f"{MANIFEST_MAX_BUCKETS}"
        )
    if flavor not in _PREVIEW_FLAVORS:
        raise ValueError(f"flavor must be one of {_PREVIEW_FLAVORS}")
    clips = read_clips(spark, clips_path)
    if flavor == "waveform":
        prev = preview_op.with_previews(clips)
        png_col, name_col, ok_col = "thumb_png", "thumb_name", "prev_ok"
    else:
        prev = preview_op.with_spectrograms(clips)
        png_col, name_col, ok_col = "sgram_png", "sgram_name", "sgram_ok"

    rows = with_bucket(
        prev.filter(F.col(ok_col)).select(
            "clip_id", F.col(name_col).alias("name"), F.col(png_col).alias("png")
        ),
        n_buckets,
    )
    # one exchange of slim preview rows: every bucket dir is owned by one
    # task (no cross-task interleaving within a bucket directory)
    rows = rows.repartition(n_buckets, F.col("bucket"))

    art_dir = os.path.join(out_path, f"previews-{flavor}")
    os.makedirs(art_dir, exist_ok=True)

    import pandas as pd  # noqa: F401  (worker-side)

    def _write(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for b, grp in pdf.groupby("bucket"):
                bdir = os.path.join(art_dir, f"bucket={int(b)}")
                os.makedirs(bdir, exist_ok=True)
                n_bytes = 0
                for name, png in zip(grp["name"], grp["png"]):
                    data = bytes(png)
                    tmp = os.path.join(bdir, f".{name}.tmp")
                    with open(tmp, "wb") as fh:
                        fh.write(data)
                    os.replace(tmp, os.path.join(bdir, name))
                    n_bytes += len(data)
                yield pd.DataFrame(
                    {
                        "bucket": [int(b)],
                        "n_files": [len(grp)],
                        "n_bytes": [n_bytes],
                    }
                )

    per_bucket = (
        rows.mapInPandas(_write, "bucket int, n_files long, n_bytes long")
        .groupBy("bucket")
        .agg(
            F.sum("n_files").alias("n_files"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        .collect()
    )
    written = {int(r["bucket"]) for r in per_bucket}
    on_disk = {
        int(d.split("=", 1)[1])
        for d in os.listdir(art_dir)
        if d.startswith("bucket=")
    }
    stale = sorted(on_disk - written)
    if stale:
        raise ValueError(
            f"previews dir has stale buckets {stale} from a previous export "
            f"— clear {art_dir} before re-exporting"
        )
    manifest = {
        "flavor": flavor,
        "n_previews": int(sum(r["n_files"] for r in per_bucket)),
        "n_buckets": n_buckets,
        "buckets": {
            str(int(r["bucket"])): {
                "n_files": int(r["n_files"]),
                "n_bytes": int(r["n_bytes"]),
            }
            for r in per_bucket
        },
    }
    # manifest lives inside the flavor dir: it describes exactly that
    # dir's contents, and a second flavor's export cannot overwrite it
    write_manifest_atomic(art_dir, manifest)
    return manifest


# ---------------------------------------------------------------------------
# observation-document sink — one serialized record per observation
# ---------------------------------------------------------------------------


def observation_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_key, doc) rows: the order→items nested tree serialized to one
    JSON document per observation IN-PLAN (``F.to_json`` over the struct,
    codegen — no Python). The reference's record-serialization analog
    (``write_obs_to_file``, ``tests/test_caom_gen_visit.py:123-126``:
    one CAOM2 XML document per observation). ``array_sort`` pins the
    item order (collect_list is otherwise nondeterministic)."""
    from ..queries._tables import load

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                )
            )
        ).alias("items")
    )
    tree = orders.join(items, orders.o_orderkey == items.l_orderkey)
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("obs_id"),
            F.col("o_custkey").alias("owner"),
            F.col("o_orderdate").cast("string").alias("date"),
            F.col("items"),
        )
    )
    return tree.select(
        F.col("o_orderkey").cast("string").alias("doc_key"), doc.alias("doc")
    )


def export_observation_documents(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    n_buckets: int = 8,
    per_record_files: bool = False,
) -> dict:
    """Persist the serialized observation documents + manifest.

    Default (``per_record_files=False``): Spark-native JSONL — one text
    line per document, bucket-partitioned dirs, fully distributed; THE
    form that scales to 10^12 records (an object store will not enjoy
    10^12 individual files). ``per_record_files=True`` reproduces the
    reference's literal one-file-per-observation contract
    (``<doc_key>.json``) via the same executor-side atomic artifact
    writer as the preview sink — appropriate for bounded record sets
    (a curation batch, a QA export). Both carry the stale-bucket guard
    and atomic manifest."""
    if n_buckets > MANIFEST_MAX_BUCKETS:
        raise ValueError(
            f"n_buckets={n_buckets} exceeds MANIFEST_MAX_BUCKETS="
            f"{MANIFEST_MAX_BUCKETS}"
        )
    docs = with_bucket(
        observation_documents(spark, sf_dir), n_buckets, key="doc_key"
    )
    docs_dir = os.path.join(out_path, "documents")
    # this run's bucket set comes from the INPUT frame, not from any
    # read-back: partition discovery on the output dir would fold a
    # foreign (stale) bucket into the written set and defeat the guard
    written = {
        int(r["bucket"])
        for r in docs.select("bucket").distinct().collect()
    }
    if per_record_files:
        os.makedirs(docs_dir, exist_ok=True)
        import pandas as pd  # noqa: F401

        def _write(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for b, grp in pdf.groupby("bucket"):
                    bdir = os.path.join(docs_dir, f"bucket={int(b)}")
                    os.makedirs(bdir, exist_ok=True)
                    n_bytes = 0
                    for key, doc in zip(grp["doc_key"], grp["doc"]):
                        data = doc.encode()
                        tmp = os.path.join(bdir, f".{key}.json.tmp")
                        with open(tmp, "wb") as fh:
                            fh.write(data)
                        os.replace(tmp, os.path.join(bdir, f"{key}.json"))
                        n_bytes += len(data)
                    yield pd.DataFrame(
                        {
                            "bucket": [int(b)],
                            "n_docs": [len(grp)],
                            "n_bytes": [n_bytes],
                        }
                    )

        per_bucket = (
            docs.repartition(n_buckets, F.col("bucket"))
            .mapInPandas(_write, "bucket int, n_docs long, n_bytes long")
            .groupBy("bucket")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_bytes").alias("n_bytes"),
            )
            .collect()
        )
    else:
        (
            docs.repartition(n_buckets, F.col("bucket"))
            .select("doc", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .text(docs_dir)
        )
        per_bucket = [
            r
            for r in (
                spark.read.schema("doc string, bucket int")
                .text(docs_dir)
                # octet_length: UTF-8 BYTES (+1 for the newline), so the
                # manifest matches the per_record_files branch's encoded
                # byte accounting for multibyte documents
                .selectExpr("bucket", "octet_length(doc) + 1 AS n_bytes")
                .groupBy("bucket")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_bytes").alias("n_bytes"),
                )
                .collect()
            )
            if int(r["bucket"]) in written  # foreign rows fail the guard below
        ]
    on_disk = {
        int(d.split("=", 1)[1])
        for d in os.listdir(docs_dir)
        if d.startswith("bucket=")
    }
    stale = sorted(on_disk - written)
    if stale:
        raise ValueError(
            f"documents dir has stale buckets {stale} from a previous "
            f"export — clear {docs_dir} before re-exporting"
        )
    manifest = {
        "format": "json-file-per-record" if per_record_files else "jsonl",
        "n_docs": int(sum(r["n_docs"] for r in per_bucket)),
        "n_buckets": n_buckets,
        "buckets": {
            str(int(r["bucket"])): {
                "n_docs": int(r["n_docs"]),
                "n_bytes": int(r["n_bytes"]),
            }
            for r in per_bucket
        },
    }
    write_manifest_atomic(out_path, manifest)
    return manifest
