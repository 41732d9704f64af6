"""SparkSession factory with the pipeline's pinned configuration.

Local-mode defaults sized from the host (local[$SPARK_GRAFT_CPUS], a driver
heap from MemAvailable unless $SPARK_GRAFT_DRIVER_MEM overrides it); on a
real cluster the same builder options apply, only master/memory change
(launched via ``spark-submit --py-files``). Shuffle partitions follow the
cores the session runs on, in both cases.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .config import DEFAULT_CONFIG

_HEAP_SHARE = 0.4  # of MemAvailable
_HEAP_MIN_MB = 1024  # Spark refuses driver heaps under ~450 MB
_HEAP_MAX_MB = 12 * 1024


def driver_mem_for(mem_available_kb: int) -> str:
    """Driver heap for a host with ``mem_available_kb`` of MemAvailable:
    40% of it, between 1g and 12g. The heap is pinned and pre-touched (see
    get_spark), and the JVM's off-heap memory (~2 GB) plus one Python worker
    per core come on top of it — a flat 12g gets the driver OOM-killed on a
    16 GB host."""
    mb = int(mem_available_kb * _HEAP_SHARE) // 1024
    return f"{min(_HEAP_MAX_MB, max(_HEAP_MIN_MB, mb))}m"


def default_driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else ``driver_mem_for`` this host
    (12g where /proc/meminfo is unreadable)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open("/proc/meminfo") as fh:
            avail_kb = next(
                int(line.split()[1])
                for line in fh
                if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration):
        return f"{_HEAP_MAX_MB}m"
    return driver_mem_for(avail_kb)


def exchange_partitions(spark: SparkSession) -> int:
    """Partitions for a shuffle: twice the cores the session can run tasks
    on (``defaultParallelism`` — under a cluster master, the executor cores
    registered so far), so every core has two tasks to balance skew with.
    ``get_spark`` sets it as ``spark.sql.shuffle.partitions``, and the
    pipeline's salted exchange uses it directly."""
    return 2 * spark.sparkContext.defaultParallelism


def get_spark(
    app_name: str = "wallaby2caom2_spark",
    cpus: int | None = None,
) -> SparkSession:
    # Under spark-submit the JVM gateway is already running with the
    # submitted --master (local-cluster / standalone / yarn / k8s); the
    # local[N] sandbox default must NOT override it, or a cluster launch
    # silently collapses back into the driver JVM.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if cpus is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus_env}]" if cpus_env else "local[*]"
    else:
        master = f"local[{cpus}]"
    driver_mem = default_driver_mem()
    # Shuffle spill dir: tmpfs by default. On a real cluster each executor
    # shuffles to its own local NVMe (scales with nodes); in this single-VM
    # proxy the lone /tmp disk would be an artificial serial resource.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder if submitted
        else SparkSession.builder.master(master)
    )
    spark = (
        builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(DEFAULT_CONFIG.arrow_max_records_per_batch),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Split size balances decode parallelism against per-task overhead:
        # 64 MB makes each ~60 MB clips file exactly ONE scan task (80
        # balanced tasks at sf0.1 for 32 cores), measured ~16% faster than
        # 32 MB on the flagship (interleaved min-of-4: 2.64s vs 3.15s;
        # 128 MB packs two files per task and was only marginally faster
        # with a lumpier final wave). Per-task memory is governed by
        # columnarReaderBatchSize, not split size, so the heap math below
        # is unchanged.
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        # Binary-column scan safety: the default 4096-row columnar batch
        # materializes ~200 MB of on-heap OnHeapColumnVector per in-flight
        # task when `bytes` averages ~50 KB; at 32 concurrent scan tasks
        # that alone exceeds the pinned heap (round-1 driver bench OOM).
        # 256 rows ≈ 13 MB/task keeps the whole scan wave under ~0.5 GB and
        # matches the Arrow transfer batch (arrow_max_records_per_batch=256;
        # the 1:1 alignment avoids cross-batch row buffering in the
        # JVM→Arrow writer — measured ~15% on the flagship).
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # Same hazard on the vectorized Arrow/pandas conversion path.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
        # idempotent re-runs overwrite only the partitions they recompute
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.local.dir", local_dir)
        # Pin + pre-touch the heap: on this virtualized host, G1's grow/
        # uncommit cycles caused page-fault storms (40%+ kernel time, 10x
        # slowdowns) as released pages were reclaimed by the hypervisor and
        # re-faulted on the next query. -Xms=-Xmx + AlwaysPreTouch keeps the
        # heap resident; scan times dropped from ~30-80s to ~4s at 4.3GB.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        .getOrCreate()
    )
    # set on the live session: the core count is known only once the
    # context runs, and under spark-submit it comes from the submitted master
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(exchange_partitions(spark))
    )
    return spark


def executor_jvm_count(spark: SparkSession) -> int | None:
    """How many separate executor JVMs served this session — 0 in local[N]
    single-JVM mode, N on a real / local-cluster deployment.

    Uses the one JVM endpoint the public API doesn't expose (block-manager
    registry size minus the driver's own endpoint); returns None instead of
    raising if the private accessor drifts across Spark versions, so both
    the job-summary and bench consumers degrade to "unknown", never crash
    mid-run.
    """
    try:
        endpoints = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
        return max(0, int(endpoints) - 1)
    except Exception:  # pragma: no cover - private API drift
        return None


def local_table(
    rows: Iterable[Sequence], schema: T.StructType | str
) -> pa.Table:
    """A ``pyarrow.Table`` of driver-side ``rows`` (tuples or Rows in
    ``schema``'s field order; ``schema`` a StructType or a DDL string),
    typed by Spark's own schema→Arrow mapping. The one place the package
    types Python rows: ``local_frame`` hands the table to the JVM, and the
    lineage sink writes it to Parquet from the driver."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (see ``local_table``). The one
    place the package turns Python rows into a frame.

    The rows go over as ``local_table``'s ``pyarrow.Table``, which
    ``createDataFrame`` hands to the JVM as-is: the frame plans as a
    ``LocalTableScan`` and no action on it starts a Python worker. A list
    passed to ``createDataFrame`` instead becomes a pickled Python RDD
    (``Scan ExistingRDD``), so every action on it — even writing eight
    bookkeeping rows — pays for Python workers (~1 s against ~0.2 s on a
    4-core host)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(local_table(rows, schema), schema)
