"""Resumable, exactly-once pipeline runner.

Reference lifecycle analog: the state-file driven incremental run —
bookmark (``config/state.yml:1-3``) + time-boxed chunks
(``config/config.yml:67-71``, interval: 600 minutes) + retry/quarantine
bookkeeping (``config/config.yml:28-47``). Our unit of progress is the
deterministic clip_id hash bucket; each *wave* (a group of buckets) is one
bounded Spark job, committed atomically:

    write results (dynamic partition overwrite, per-bucket dirs)
    → read them back once: collect run_metrics per (bucket, outcome)
    → overwrite lineage (per-bucket sums of those rows' clips, zero-filled)
      + metrics (the same rows) → mark buckets done in the checkpoint.

A wave runs four Spark jobs: two for the results write (the pipeline and
its bucket exchange) and two for the read-back aggregation (AQE splits
it). The read-back reads with the written frame's schema, which is known
without a job, so no job infers it from footers. The lineage and metrics
rows are written by the driver with pyarrow (``sources/lineage.py``):
each ``(run_id, bucket)`` directory's file is replaced by one atomic
rename, and no Spark job runs for them.

A crash between any two steps re-runs at most one wave; the overwrite makes
that idempotent — exactly-once per clip at read time (tests/test_resume.py
kills a run mid-way and asserts it).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.partitioning import with_bucket
from ..sources import checkpoint as ckpt_mod
from ..sources import clips as clips_src
from ..sources import lineage as lineage_src
from .pipeline import quality_filter, run_metrics


class SimulatedCrash(RuntimeError):
    """Raised by the fail-injection hook in tests (kill/restart scenario)."""



def run_resumable(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    n_buckets: int = 16,
    n_waves: int = 4,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    run_id: str | None = None,
    fail_after_wave: int | None = None,
) -> dict:
    """Process all not-yet-committed buckets in ``n_waves`` bounded jobs.

    Returns a small summary dict (waves run, buckets committed).
    """
    os.makedirs(out_dir, exist_ok=True)
    results_path = os.path.join(out_dir, "results")
    ckpt = ckpt_mod.BucketCheckpoint(
        os.path.join(out_dir, "checkpoint.json"), n_buckets
    )
    # the checkpoint OWNS the run_id: a resume must reuse the crashed
    # attempt's id or its (run_id, bucket)-keyed lineage/metrics overwrites
    # land under a new key and the crashed wave's rows double-count
    # "r" prefix: the id is a partition directory name and must never
    # parse as a number (lineage.check_run_id) — a bare 12-char hex like
    # 6e0612805002 type-infers as a double on read-back
    run_id = ckpt.ensure_run_id(run_id or "r" + uuid.uuid4().hex[:12])
    # fail FAST on an invalid id: without this, a caller-supplied numeric /
    # date-shaped id (or a legacy checkpoint whose stored hex id happens to
    # be all-numeric — pre-guard checkpoints must be re-minted) would only
    # be rejected at the first append_lineage call, i.e. AFTER a full wave
    # of decode work had already run and been written
    lineage_src.check_run_id(run_id)
    remaining = ckpt.remaining()
    if not remaining:
        return {"run_id": run_id, "waves": 0, "buckets": []}

    clips = with_bucket(clips_src.read_clips(spark, in_path), n_buckets)
    committed: list[int] = []
    wave_size = max(1, -(-len(remaining) // n_waves))
    waves = [remaining[i : i + wave_size] for i in range(0, len(remaining), wave_size)]

    for wave_i, bucket_group in enumerate(waves):
        subset = clips.filter(F.col("bucket").isin(bucket_group))
        # repartition=False: the pipeline's salted exchange balances rows
        # for an arbitrary sink, but this sink partitions by bucket —
        # writing the salted 2N-partition layout through
        # partitionBy("bucket") opens 2N files per bucket dir per wave
        # (the small-files pattern compact_results_job exists to repair).
        # Instead ONE bucket-hash exchange of slim rows: each bucket lands
        # wholly in one task, so every bucket dir gets exactly one file
        # per wave. Compute parallelism is unchanged (the fused stage runs
        # on scan splits, before any exchange).
        result = quality_filter(subset, cfg, repartition=False)
        result = with_bucket(result, n_buckets)  # re-derive for partitioned sink
        result = result.repartition(len(bucket_group), F.col("bucket"))
        clips_src.write_results(result, results_path, partition_by="bucket")

        # an all-empty wave writes no file, but the results dir exists, so
        # this read with a given schema returns no rows instead of failing
        metrics = run_metrics(
            spark.read.schema(result.schema)
            .parquet(results_path)
            .filter(F.col("bucket").isin(bucket_group)),
            extra_keys=("bucket",),
        )
        metric_rows = metrics.collect()
        # every committed bucket gets a lineage row: the aggregation sees
        # only buckets that produced rows, so the empty ones keep an
        # explicit 0
        counts = dict.fromkeys(bucket_group, 0)
        for r in metric_rows:
            counts[r["bucket"]] += r["clips"]
        lineage_src.append_lineage(
            os.path.join(out_dir, "lineage"),
            run_id,
            wave_i,
            list(counts.items()),
        )
        lineage_src.append_metrics(
            metric_rows,
            metrics.schema,
            os.path.join(out_dir, "metrics"),
            run_id,
            wave_i,
        )
        ckpt.mark_done(set(bucket_group))
        committed.extend(bucket_group)
        if fail_after_wave is not None and wave_i >= fail_after_wave:
            raise SimulatedCrash(f"injected crash after wave {wave_i}")

    return {"run_id": run_id, "waves": len(waves), "buckets": committed}
