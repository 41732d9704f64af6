"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Protocol (BASELINE.md): clips cache generated before timing; per query one
warm-up run (excluded) then N_RUNS timed runs, MIN reported. Min, not
median: this VM shows bursty hypervisor throttling — identical back-to-back
runs of the same query vary 2-5x with the guest ~90% idle during slow
samples (BENCH/BASELINE.md "Method") — so the median measures the
throttling weather while the min estimates the machine. The clips
pipeline's clips/sec is the BASELINE.json end-to-end metric and is included
as an extra key.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bench_common import adaptive_warmup, host_probe, sample_stable  # noqa: E402
from wallaby2caom2_spark.queries import ALL_QUERIES  # noqa: E402
from wallaby2caom2_spark.queries.clips_flagship import clips_path_for  # noqa: E402
from wallaby2caom2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("BENCH_RUNS", "3"))

# Headline suite: the flagship clips pipeline + one representative query per
# operator family (agg, star join, dedup, similarity, text cascade).
HEADLINE = (
    "clips_quality_filter",
    "pricing_summary",
    "revenue_per_nation",
    "dedup_minhash_signature",
    "similarity_topk_bruteforce",
    "doc_rule_cascade",
)

_FORCE_AGGS = {
    # force full evaluation of every UDF column (count() alone would let
    # Catalyst prune the pandas-UDF projections entirely)
    "clips_quality_filter": lambda df: df.agg(
        F.sum(F.length("scrubbed_transcript")),
        F.sum("scrub_edits"),
        F.sum("ppl"),
        F.sum(F.col("keep").cast("int")),
        F.sum("dur_ms_meas"),
    ).collect(),
}


def _force(name: str, df) -> int:
    if name in _FORCE_AGGS:
        _FORCE_AGGS[name](df)
        return -1
    rows = df.collect()
    return len(rows)


def main() -> None:
    sf = os.path.basename(os.path.normpath(SF_DIR)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = 0.0

    clips_path = clips_path_for(SF_DIR)  # generate outside the timed region
    n_clips = None
    probe_before = host_probe()

    spark = get_spark("bench")
    parallelism = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    extra_samples = 0
    for name in HEADLINE:
        fn = ALL_QUERIES[name]
        # warm-up (excluded) — adaptive steady-state rule, shared with the
        # other benches (bench_common.adaptive_warmup)
        adaptive_warmup(spark, lambda: _force(name, fn(spark, SF_DIR)))

        def _timed() -> float:
            # cold-path guard shared with the other benches: none of
            # today's HEADLINE queries persist, but a future addition that
            # does (curation funnel, BPE) would otherwise time warm-cache
            # replays via CacheManager plan-dedupe
            spark.catalog.clearCache()
            t0 = time.time()
            _force(name, fn(spark, SF_DIR))
            return time.time() - t0

        # throttle gate (bench_common.sample_stable): a sample set whose
        # median/min spread shows the hypervisor-throttling signature is
        # resampled up to a wall-clock cap, so a one-shot driver run can't
        # record a storm as a regression
        samples = sample_stable(_timed, N_RUNS)
        extra_samples += len(samples) - N_RUNS
        times[name] = round(min(samples), 3)

    n_clips = spark.read.parquet(clips_path).count()
    clips_sec = times["clips_quality_filter"]
    spark.stop()

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
                "clips_per_sec": round(n_clips / clips_sec, 1),
                "n_clips": n_clips,
                "parallelism": parallelism,
                "runs_per_query": N_RUNS,
                "extra_samples": extra_samples,
                # host-weather self-adjudication (bench_common.host_probe):
                # the BEFORE probe is the contention signal — high loadavg
                # with the guest otherwise idle = external contention
                # (loadavg is a 1-min EWMA, so the AFTER probe mostly
                # reflects the bench's own work; read its
                # spin_mips for execution-speed drift, not its loadavg)
                "host_probe_before": probe_before,
                "host_probe_after": host_probe(),
            }
        )
    )


if __name__ == "__main__":
    main()
