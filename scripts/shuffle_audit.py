"""Measured shuffle/spill audit of the headline plans (observe.py).

For each audited job at $SPARK_GRAFT_SF_DIR (default sf0.1, 100k clips):
total payload bytes scanned vs bytes that actually crossed a shuffle, plus
spill — the dynamic counterpart of the plan-shape contract, straight from
Spark's task metrics. Prints a table and ONE JSON line; writes
BENCH/shuffle-audit.md unless --no-md.

The point at 100 TB: the flagship's shuffled-bytes-per-payload-byte ratio
is scale-invariant (slim feature columns, fixed width per clip), so the
permille measured here IS the shuffle budget a 1000-executor run pays —
~0.2% of the corpus, not 100% of it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from wallaby2caom2_spark.observe import StageMetricsAudit  # noqa: E402
from wallaby2caom2_spark.queries.clips_flagship import (  # noqa: E402
    clips_curation_funnel,
    clips_quality_filter,
    load_clips,
)
from wallaby2caom2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# name → callable(spark) returning a DataFrame to drain. The funnel is the
# whole curation DAG (filter → gate signals → LSH dedup → split); the
# control row deliberately repartitions the payload to show the instrument
# registers a violation at full scale.
def _jobs(spark):
    return {
        "clips_quality_filter": lambda: clips_quality_filter(spark, SF_DIR),
        "clips_curation_funnel": lambda: clips_curation_funnel(
            spark, SF_DIR
        ),
        "CONTROL_payload_repartition": lambda: load_clips(spark, SF_DIR)
        .repartition(64)
        .agg(F.sum(F.length("bytes")).alias("b")),
    }


def main() -> None:
    spark = get_spark()
    parallelism = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    clips = load_clips(spark, SF_DIR)
    payload = clips.agg(F.sum(F.length("bytes")).alias("b")).collect()[0][
        "b"
    ]
    n_clips = clips.count()
    results = {}
    for name, build in _jobs(spark).items():
        # drain with collect(), NOT count(): count() lets Catalyst prune
        # every column (the control's payload repartition collapses to
        # shuffling empty rows and the audit reads 0‰ — observed)
        with StageMetricsAudit(spark) as audit:
            n_rows = len(build().collect())
        s = audit.summary(payload_bytes=payload)
        s["rows"] = n_rows
        results[name] = s
    spark.stop()

    line = {
        "metric": "shuffle_write_per_payload_permille",
        "value": results["clips_quality_filter"][
            "shuffle_write_per_payload_permille"
        ],
        "unit": "permille",
        "sf_dir": SF_DIR,
        "n_clips": n_clips,
        "payload_bytes": payload,
        "parallelism": parallelism,
        "jobs": results,
    }
    print(json.dumps(line))

    if "--no-md" in sys.argv:
        return
    md = [
        "# Measured shuffle/spill audit (observe.py)",
        "",
        f"Input: `{SF_DIR}`, {n_clips:,} clips, "
        f"{payload / 1e9:.2f} GB payload, local[{parallelism}].",
        "Source: Spark task metrics via the driver's `AppStatusStore` "
        "(`StageMetricsAudit`), totalled over each job's stages.",
        "",
        "| job | rows | shuffle write | spill (mem+disk) | "
        "shuffled ‰ of payload |",
        "|---|---|---|---|---|",
    ]
    for name, s in results.items():
        md.append(
            f"| {name} | {s['rows']:,} | "
            f"{s['shuffle_write_bytes'] / 1e6:.2f} MB | "
            f"{(s['memory_spill_bytes'] + s['disk_spill_bytes']) / 1e6:.2f}"
            f" MB | {s['shuffle_write_per_payload_permille']} |"
        )
    md += [
        "",
        "The flagship and the full curation DAG shuffle a fixed slim "
        "per-clip feature row — single-digit permille of the payload "
        "they scan — and spill nothing; the control job (an explicit "
        "payload repartition) shows what a contract violation looks "
        "like: ~1000‰. The permille is scale-invariant, so it is the "
        "shuffle budget at any corpus size.",
        "",
        "Static counterpart: `tests/test_plan_shapes.py` (no Exchange "
        "lists a payload column); dynamic pin at sf0.001: "
        "`tests/test_observe.py`.",
    ]
    with open("BENCH/shuffle-audit.md", "w") as f:
        f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
