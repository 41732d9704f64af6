"""Streaming queries under the driver's correctness gate.

Until this module, §2.7 (streaming/incremental) was pytest-only: the
file-source stream, watermarked windows, and stateful dedup were pinned by
golden tests but no ``queries()`` entry ever exercised ``readStream``
against a DuckDB oracle. ``stream_hourly_rollup`` closes that: the SAME
``windowed_rollup`` operator the ingest pipeline uses runs as a real
Structured Streaming query (file source → event-time window + watermark →
sink) under ``Trigger.availableNow``, and because availableNow drains a
bounded input completely, the finished result is exactly the batch
aggregate — which DuckDB replays as a GROUP BY over ``date_trunc``.

Reference analog: the time-boxed bounded-run loop
(``wallaby2caom2/composable.py:153-177`` + ``config/config.yml:67-71``) —
process everything newly available, then stop — with the progress rollup
the reference writes per run (SURVEY.md §2.7 A4).

Scale note: the memory sink here is gate harness, not the production path —
it exists so the streaming plan's OUTPUT can be handed back as a DataFrame
and value-hashed. Its complete-mode state is one row per (window ×
event_type), bounded by the time span, not the event count (720 windows/
month × a handful of types), so it stays tiny even at 10^12 input events.
The production sink for unbounded streams is ``streaming/stream.py``'s
idempotent foreachBatch parquet writer with append/update mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..streaming.windows import windowed_rollup

_SINK_NAME = "stream_hourly_rollup_sink"


def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet as a FILE STREAM → watermarked 1h tumbling rollup.

    availableNow + complete output mode make the run deterministic
    regardless of how the source splits files into micro-batches: the
    watermark never evicts state in complete mode, and the final emission
    is the full aggregate of everything drained.
    """
    path = os.path.join(sf_dir, "events.parquet")
    # file streams require an explicit schema; parquet footer read only
    schema = spark.read.parquet(path).schema
    # FileStreamSource wants a DIRECTORY to watch (its basePath); the table
    # is a single file inside sf_dir, so watch the dir and glob-filter to
    # exactly that file
    events = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    rolled = windowed_rollup(events, "1 hour", "2 hours").select(
        # string-format the window start so the cross-engine value hash
        # compares text, not engine-local timestamp encodings
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "n_events",
        "sum_value_cents",
    )

    # a previous invocation in the same session may still own the sink name
    for q in spark.streams.active:
        if q.name == _SINK_NAME:
            q.stop()
            q.awaitTermination()

    query = (
        rolled.writeStream.format("memory")
        .queryName(_SINK_NAME)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(_SINK_NAME)


_STREAM_HOURLY_ROLLUP_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type,
       count(*)::BIGINT AS n_events,
       sum(round(value*100, 0)::BIGINT)::BIGINT AS sum_value_cents
FROM events
-- Spark's F.window() injects an implicit "ts IS NOT NULL" under the
-- event-time groupBy (a row without an event time belongs to no window);
-- mirror it so a NULL-ts row can never split the two engines
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-ingest content-dedup stage
    (streaming/ingest_dedup.py) run as a REAL bounded stream over the
    whole clips corpus: file source → per-micro-batch fingerprint →
    within-batch keeper election + persisted-store probe → signature
    append + triage summary. A fresh work dir per call makes the run
    deterministic (one availableNow batch, empty store → statuses are
    novel / dup_in_batch / unfingerprintable), so DuckDB replays the
    whole triage from the fixture's fingerprints. Cross-RUN semantics
    (dup_of_store, retry isolation) are pinned in
    tests/test_ingest_dedup.py."""
    import shutil
    import tempfile

    from ..streaming.ingest_dedup import run_ingest_dedup_stream
    from .clips_flagship import clips_path_for

    work = tempfile.mkdtemp(prefix="wallaby_ingest_dedup_")
    try:
        run_ingest_dedup_stream(spark, clips_path_for(sf_dir), work)
        rows = (
            spark.read.parquet(os.path.join(work, "triage"))
            .groupBy("status")
            .agg(F.sum("n_clips").alias("n_clips"))
            .orderBy("status")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # materialized before the work dir is removed; re-wrapped so the
    # driver's collect() after return still works
    return local_frame(spark, rows, "status string, n_clips bigint")


def ingest_dedup_oracle(sf_dir: str) -> str:
    """DuckDB oracle: one-batch triage — within-batch banded pairs with
    the shared zero-band hot-key policy, min-id losers, status cascade —
    replayed from the fixture's fingerprints."""
    from .clips_flagship import features_path_for

    path = features_path_for(sf_dir)
    return f"""
WITH fx AS (
  SELECT clip_id, fp_ok, fp FROM read_parquet('{path}/*.parquet')
),
bands AS (
  SELECT clip_id, fp, b.band_idx,
         (fp >> (b.band_idx * 15)) % 32768 AS band_bits
  FROM fx, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
  WHERE fp_ok
),
live AS (SELECT * FROM bands WHERE band_bits != 0),
pairs AS (
  SELECT DISTINCT l.clip_id AS ca, r.clip_id AS cb, l.fp AS fa, r.fp AS fb
  FROM live l JOIN live r
    ON l.band_idx = r.band_idx AND l.band_bits = r.band_bits
   AND l.clip_id < r.clip_id
),
losers AS (
  SELECT DISTINCT cb AS clip_id FROM pairs
  WHERE bit_count(xor(fa, fb)) <= 3
)
SELECT CASE WHEN NOT f.fp_ok THEN 'unfingerprintable'
            WHEN l.clip_id IS NOT NULL THEN 'dup_in_batch'
            ELSE 'novel' END AS status,
       count(*)::BIGINT AS n_clips
FROM fx f LEFT JOIN losers l ON f.clip_id = l.clip_id
GROUP BY 1 ORDER BY 1
"""


def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north-rule pipeline itself as a multi-micro-batch stream under
    the value-hash gate: file source over the clips cache chunked at ONE
    part file per trigger (a real backlog drain, 4+ micro-batches at
    sf0.01 — not a single-batch degenerate run), the full fused
    decode→langid/ppl→cascade→scrub pipeline per batch, the idempotent
    (batch_id, bucket) dynamic-overwrite sink, then the triage profile
    read back FROM THE SINK FILES. Batching cannot move the result: each
    clip lands in exactly one micro-batch and its outputs are
    deterministic per clip, so the drained sink equals the batch run —
    which DuckDB replays from the labeler fixture. Cross-run resume /
    exactly-once retry semantics are pinned in tests/test_streaming.py;
    this entry is the gate-facing proof the STREAMING front-end computes
    the same answer as the batch plan."""
    import shutil
    import tempfile

    from ..streaming.stream import run_stream
    from .clips_flagship import clips_path_for

    work = tempfile.mkdtemp(prefix="wallaby_stream_qf_")
    try:
        run_stream(
            spark,
            clips_path_for(sf_dir),
            work,
            n_buckets=8,
            available_now=True,
            max_files_per_trigger=1,
            record_ops=False,
        )
        rows = (
            spark.read.parquet(os.path.join(work, "results"))
            .groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("outcome"))
            .agg(
                F.count("*").alias("n_clips"),
                F.sum("scrub_edits").alias("scrub_edits"),
                F.round(F.avg("ppl") + 1e-9, 4).alias("avg_ppl"),
            )
            .orderBy("outcome")
            .collect()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # materialized before the work dir is removed; re-wrapped so the
    # driver's collect() after return still works
    return local_frame(
        spark,
        rows,
        "outcome string, n_clips bigint, scrub_edits bigint, avg_ppl double",
    )


def stream_quality_filter_oracle(sf_dir: str) -> str:
    """DuckDB replay from the labeler fixture: the drained stream must
    equal the batch pipeline's triage exactly (counts, scrub volume, and
    raw-double ppl means)."""
    from .clips_flagship import features_path_for

    path = features_path_for(sf_dir)
    return f"""
SELECT coalesce(drop_reason, 'kept') AS outcome,
       count(*)::BIGINT AS n_clips,
       sum(scrub_edits)::BIGINT AS scrub_edits,
       round(avg(ppl) + 1e-9, 4) AS avg_ppl
FROM read_parquet('{path}/*.parquet')
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "stream_hourly_rollup": stream_hourly_rollup,
    "stream_ingest_dedup": stream_ingest_dedup,
    "stream_quality_filter": stream_quality_filter,
}

ORACLE = {
    "stream_hourly_rollup": _STREAM_HOURLY_ROLLUP_SQL,
}

ORACLE_BUILDERS = {
    "stream_ingest_dedup": ingest_dedup_oracle,
    "stream_quality_filter": stream_quality_filter_oracle,
}
