"""Per-micro-batch ops metrics, persisted next to the data they describe.

Reference analog (SURVEY.md §2.4 A4 / §2.1 S10): the reference appends a
progress record per run (processed counts, timing) to its metrics sink;
the streaming front-end's equivalent facts live in Spark's
``StreamingQueryProgress`` — per-batch input rows, processing rate, and
the trigger-duration breakdown. This module flattens
``query.recentProgress`` into a slim table and appends it to
``<out_dir>/ops_metrics``.

``recentProgress`` (read synchronously after ``awaitTermination``) is used
instead of a ``StreamingQueryListener`` deliberately: the Python listener
runs on an async delivery thread, so a bounded ``availableNow`` run can
terminate before the last event is delivered — the test becomes a sleep
race. The trade-off is the retention cap
(``spark.sql.streaming.numRecentProgressUpdates``, default 100 batches);
runs chunked finer than that should raise the conf or record per chunk.

Lineage (rows written per bucket, exactly-once bookkeeping) stays in
``sources/lineage.py`` — this table answers the OTHER operational
question: how fast is ingest, and where did trigger time go.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame

OPS_SCHEMA = T.StructType(
    [
        T.StructField("query_run_id", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("batch_ts", T.StringType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("process_rows_per_sec", T.DoubleType()),
        T.StructField("trigger_ms", T.LongType()),
        T.StructField("add_batch_ms", T.LongType()),
        T.StructField("state_rows_total", T.LongType()),
        T.StructField("state_memory_bytes", T.LongType()),
    ]
)


def progress_records(query: StreamingQuery) -> list[dict]:
    """Flatten ``query.recentProgress`` to OPS_SCHEMA-shaped dicts."""
    out = []
    for p in query.recentProgress:
        dur = p["durationMs"] or {}
        state = p["stateOperators"] or []
        out.append(
            {
                "query_run_id": str(p["runId"]),
                "batch_id": int(p["batchId"]),
                "batch_ts": p["timestamp"],
                "num_input_rows": int(p["numInputRows"]),
                "process_rows_per_sec": float(
                    p["processedRowsPerSecond"] or 0.0
                ),
                "trigger_ms": int(dur.get("triggerExecution", 0)),
                "add_batch_ms": int(dur.get("addBatch", 0)),
                "state_rows_total": sum(
                    int(s["numRowsTotal"]) for s in state
                ),
                "state_memory_bytes": sum(
                    int(s["memoryUsedBytes"]) for s in state
                ),
            }
        )
    return out


def write_ops_metrics(
    spark: SparkSession, query: StreamingQuery, out_dir: str
) -> DataFrame:
    """Append this run's per-batch records to ``<out_dir>/ops_metrics``
    and return them. Append (not overwrite) is correct here: every run
    has a fresh ``query_run_id``, so the table accumulates run history —
    the same shape as the reference's append-only progress sink. A
    RETRIED batch inside one run appears once (recentProgress keeps the
    final attempt). A resume against an already-drained source appends
    its no-op tick (one row, ``num_input_rows=0``) — deliberate: the
    reference writes a progress record per run whether or not new work
    existed, and "the cron ran and saw nothing" is itself an
    operational fact."""
    recs = progress_records(query)
    df = local_frame(
        spark, [[r[f] for f in OPS_SCHEMA.names] for r in recs], OPS_SCHEMA
    )
    if recs:
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(out_dir, "ops_metrics")
        )
    return df
