"""Two-cluster-size scaling evidence at EXECUTOR granularity.

Runs the literal north-rule topology inside one host:
``local-cluster[N, cores, mem]`` — N separate executor JVM processes
registered with a standalone-style backend, netty shuffle between them,
one python-UDF worker pool per executor — at N vs 4N executor counts
(default 2 vs 8, x2 cores each; BENCH_CLUSTER_LEVELS / BENCH_CLUSTER_CORES
select other shapes), same input, same job.

Measurement protocol (a host with bursty hypervisor throttling makes
medians measure the weather):

- each (level, round) runs in a fresh subprocess tree, taskset-pinned to
  ``N*C + 2`` upper cores; inside the child the roles are re-pinned —
  executor JVMs (all threads) to exactly their N*C compute cores, the
  driver JVM + python driver to the 2 spares — so neither level can
  overflow its advertised width (on a real cluster the driver node's
  cores are not schedulable by executors);
- executor heaps are -Xms-pinned + AlwaysPreTouch, the same page-fault-
  storm mitigation session.py applies to the driver on this host;
- levels interleave across rounds so both sample the same throttling;
- per level the MINIMUM time over all rounds is the estimate; every
  sample is reported.

    efficiency = (best_throughput@8exec / best_throughput@2exec) / 4

Writes BENCH/scaling-cluster-{N}x{4N}.md and prints one JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# executor counts (N and 4N), cores per executor fixed at 2
LEVELS = tuple(
    int(x) for x in os.environ.get("BENCH_CLUSTER_LEVELS", "2,8").split(",")
)
if len(LEVELS) != 2:
    # fail BEFORE the hours of child measurements, not at the lo/hi unpack
    # that writes the report afterwards
    raise SystemExit(
        f"BENCH_CLUSTER_LEVELS must name exactly two executor counts "
        f"(N,4N), got {LEVELS!r}"
    )
CORES_PER_EXEC = int(os.environ.get("BENCH_CLUSTER_CORES", "2"))
DRIVER_CORES = 2  # the driver JVM + python driver's spare cores
EXEC_MEM_MB = int(os.environ.get("BENCH_CLUSTER_MEM_MB", "4096"))
ROUNDS = int(os.environ.get("BENCH_ROUNDS", "3"))
RUNS_PER_ROUND = int(os.environ.get("BENCH_RUNS", "2"))

# A 2M-clip text-heavy corpus (per-row CPU in langid/ppl/scrub dominates
# fixed overheads), read as a deterministic prefix of its part files: 800k
# clips keeps the 4-core level under ~1 min per sample while still ~40 s of
# pure pipeline work per run.
SCALE_N = int(os.environ.get("BENCH_SCALE_N", "2000000"))
SUBSET_FILES = int(os.environ.get("BENCH_CLUSTER_FILES", "64"))
ROWS_PER_FILE = 12_500
SCALE_CORPUS = f"/tmp/wallaby_clips_cache/scaling-text_heavy-v4-n{SCALE_N}"


def core_budget(usable: set[int] | None = None) -> tuple[int, list[int]]:
    """(cores the largest level needs: its executors' plus the driver's,
    the usable cores, sorted — ``os.sched_getaffinity(0)`` by default).
    Each level's taskset mask is the top of that usable list."""
    if usable is None:
        usable = os.sched_getaffinity(0)
    return max(LEVELS) * CORES_PER_EXEC + DRIVER_CORES, sorted(usable)


def _ensure_corpus() -> str:
    from wallaby2caom2_spark import datagen

    return datagen.generate_once(
        SCALE_CORPUS,
        lambda tmp: datagen.write_clips_parquet(
            tmp,
            SCALE_N,
            seed=42,
            rows_per_file=ROWS_PER_FILE,
            profile="text_heavy",
            workers=os.cpu_count() or 1,
        ),
    )


def _subset_paths() -> list[str]:
    parts = sorted(glob.glob(os.path.join(SCALE_CORPUS, "part-*.parquet")))
    if not parts:
        parts = sorted(glob.glob(os.path.join(SCALE_CORPUS, "*.parquet")))
    return parts[:SUBSET_FILES]


def _pin(pids: list[int], cores: list[int]) -> None:
    """taskset -a: apply the mask to EVERY thread of each process (plain
    sched_setaffinity(pid) would move only the main thread of a JVM)."""
    mask = ",".join(str(c) for c in cores)
    for pid in pids:
        subprocess.run(
            ["taskset", "-acp", mask, str(pid)],
            capture_output=True, check=True,
        )


def _executor_jvm_pids() -> list[int]:
    """PIDs of the CoarseGrainedExecutorBackend JVMs this cluster spawned
    (children of our driver JVM — one local-cluster runs at a time)."""
    me = os.getpid()

    def ancestors(pid: int) -> set[int]:
        seen = set()
        while pid > 1 and pid not in seen:
            seen.add(pid)
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    pid = int(fh.read().split(") ")[-1].split()[1])
            except OSError:
                break
        return seen

    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"CoarseGrainedExecutorBackend" in cmd and me in ancestors(int(p)):
            out.append(int(p))
    return out


def _measure_child(n_exec: int) -> None:
    """Child: one local-cluster session, warm-ups + timed runs.

    Core budget is enforced PER ROLE, not per tree: the parent's taskset
    mask has ``N*C + 2`` cores, but a shared mask would let the executors
    overflow into the driver's 2 spare cores — a 50% width bonus at the
    small level vs 12.5% at the large one, inflating measured efficiency
    loss. Once the executor JVMs are up, they are re-pinned (all threads)
    to exactly the N*C compute cores and the driver JVM + this python
    driver to the 2 spares, so both levels run on precisely their
    advertised width — like a real cluster, where the driver node's cores
    are not schedulable by executors."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from wallaby2caom2_spark.plans.pipeline import quality_filter
    from wallaby2caom2_spark.session import executor_jvm_count

    paths = _subset_paths()
    spark = (
        SparkSession.builder.master(
            f"local-cluster[{n_exec},{CORES_PER_EXEC},{EXEC_MEM_MB}]"
        )
        .appName(f"bench_scaling_cluster_{n_exec}")
        .config("spark.executor.memory", f"{EXEC_MEM_MB}m")
        # same anti-page-fault-storm heap pinning session.py gives the
        # driver: executor heaps grow/uncommit cycles on this virtualized
        # host otherwise re-fault hypervisor-reclaimed pages mid-run
        .config(
            "spark.executor.extraJavaOptions",
            f"-Xms{EXEC_MEM_MB}m -XX:+AlwaysPreTouch",
        )
        # executor JVMs spawn their own python-UDF workers; unlike local[N]
        # they do not inherit the driver's sys.path, so ship the repo root
        # the way --py-files would on a real cluster
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.abspath(__file__)),
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.sql.files.maxPartitionBytes", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def force() -> None:
        quality_filter(spark.read.parquet(*paths)).agg(
            F.sum(F.length("scrubbed_transcript")),
            F.sum("scrub_edits"),
            F.sum("ppl"),
            F.sum(F.col("keep").cast("int")),
            F.sum("dur_ms_meas"),
        ).collect()

    n = spark.read.parquet(*paths).count()  # executors registered + busy

    # role-pin: executors → exactly N*C compute cores, driver JVM (+ the
    # in-JVM Master/Worker daemons) and this process → the 2 spare cores
    allowed = sorted(os.sched_getaffinity(0))
    n_compute = n_exec * CORES_PER_EXEC
    exec_cores, driver_cores = allowed[:n_compute], allowed[n_compute:]
    if len(allowed) < n_compute + 1:  # unpinned ad-hoc run: skip role-pin
        exec_cores, driver_cores = allowed, allowed
    exec_pids = _executor_jvm_pids()
    assert len(exec_pids) == n_exec, (exec_pids, n_exec)
    _pin(exec_pids, exec_cores)
    _pin([os.getpid()], driver_cores)
    for p in os.listdir("/proc"):  # the driver JVM: our direct java child
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    parts = fh.read().split(") ")[-1].split()
                if int(parts[1]) == os.getpid():
                    _pin([int(p)], driver_cores)
            except OSError:
                pass

    force()  # warm-ups, excluded: per-executor python worker pools spawn
    force()  # lazily — two passes reach steady state (and inherit the
    #          executor pin, fork()ed from the re-pinned executor JVMs)
    samples = []
    for _ in range(RUNS_PER_ROUND):
        t0 = time.time()
        force()
        samples.append(round(time.time() - t0, 2))
    execs = executor_jvm_count(spark)
    spark.stop()
    print(
        "CHILD_RESULT "
        + json.dumps({"n": n, "samples": samples, "executors": execs})
    )


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--measure":
        _measure_child(int(sys.argv[2]))
        return

    budget, usable = core_budget()
    if budget > len(usable):
        raise SystemExit(
            f"the {max(LEVELS)}-executor level needs {budget} cores "
            f"({max(LEVELS)} x {CORES_PER_EXEC} + {DRIVER_CORES} for the "
            f"driver), but only {len(usable)} are usable here"
        )
    _ensure_corpus()
    all_samples: dict[int, list[float]] = {lvl: [] for lvl in LEVELS}
    execs_seen: dict[int, int] = {}
    n_clips = 0
    for rnd in range(ROUNDS):
        for lvl in LEVELS:
            width = lvl * CORES_PER_EXEC + DRIVER_CORES
            mask = ",".join(str(c) for c in usable[-width:])
            proc = subprocess.run(
                [
                    "taskset", "-c", mask,
                    sys.executable, os.path.abspath(__file__),
                    "--measure", str(lvl),
                ],
                capture_output=True, text=True, env=dict(os.environ),
            )
            got = False
            for line in proc.stdout.splitlines():
                if line.startswith("CHILD_RESULT "):
                    payload = json.loads(line[len("CHILD_RESULT "):])
                    n_clips = payload["n"]
                    all_samples[lvl].extend(payload["samples"])
                    execs_seen[lvl] = payload["executors"]
                    got = True
                    print(
                        f"# round {rnd} cluster[{lvl}x{CORES_PER_EXEC}]: "
                        f"{payload['samples']} ({payload['executors']} execs)",
                        file=sys.stderr,
                    )
            if proc.returncode != 0 or not got:
                raise RuntimeError(
                    f"round {rnd} cluster[{lvl}] child failed "
                    f"(rc={proc.returncode}); stderr tail:\n"
                    + proc.stderr[-2000:]
                )

    results = {}
    for lvl in LEVELS:
        best = min(all_samples[lvl])
        results[lvl] = {
            "executors": execs_seen.get(lvl),
            "cores": lvl * CORES_PER_EXEC,
            "best_sec": best,
            "clips_per_sec_best": round(n_clips / best, 1),
            "median_sec": round(statistics.median(all_samples[lvl]), 2),
            "samples_sec": all_samples[lvl],
        }

    lo, hi = LEVELS
    eff = (
        results[hi]["clips_per_sec_best"] / results[lo]["clips_per_sec_best"]
    ) / (hi / lo)
    out = {
        "metric": "scaling_efficiency_executors",
        "value": round(eff, 3),
        "unit": "ratio",
        "topology": f"local-cluster[N,{CORES_PER_EXEC},{EXEC_MEM_MB}]",
        "estimator": "min-of-samples (least hypervisor interference)",
        "levels": {str(k): v for k, v in results.items()},
        "n_clips": n_clips,
        "corpus": f"{SCALE_CORPUS} (first {SUBSET_FILES} part files)",
        "rounds": ROUNDS,
        "runs_per_round": RUNS_PER_ROUND,
    }
    print(json.dumps(out))

    # APPEND a dated series section — cross-boot history in these files is
    # evidence (the north rule is re-proven per boot); truncating it cost a
    # manual git restore once, so the report is now append-only
    os.makedirs("BENCH", exist_ok=True)
    md_path = f"BENCH/scaling-cluster-{lo}x{hi}.md"
    header = not os.path.exists(md_path)
    with open(md_path, "a") as fh:
        if header:
            fh.write(
                "# Two-cluster-size scaling at EXECUTOR granularity\n\n"
                "North rule: throughput scaling efficiency >= 0.8 between N\n"
                "and 4N executors, in-sandbox literal topology\n"
                f"`local-cluster[N,{CORES_PER_EXEC},{EXEC_MEM_MB}]` — N separate executor\n"
                "JVM processes (cluster backend + netty shuffle +\n"
                "per-executor python-UDF worker pools), NOT local[N]\n"
                "threads. Protocol: min-of-samples, interleaved levels,\n"
                "taskset role-pinned children, -Xms-pinned executor heaps.\n"
                "Append-only: one section per run; cross-boot numbers are\n"
                "not comparable on this host (BENCH/BASELINE.md).\n"
            )
        fh.write(
            f"\n## Series appended {time.strftime('%Y-%m-%d %H:%M')} — "
            f"N={lo} vs N={hi}, {n_clips} clips, "
            f"{ROUNDS}x{RUNS_PER_ROUND} samples/level\n\n"
            "| executors | cores | best sec | best clips/sec | median sec | samples (sec) |\n"
            "|---|---|---|---|---|---|\n"
            + "".join(
                f"| {v['executors']} | {v['cores']} | {v['best_sec']} | "
                f"{v['clips_per_sec_best']} | {v['median_sec']} | "
                f"{v['samples_sec']} |\n"
                for v in results.values()
            )
            + f"\n**Scaling efficiency (best-vs-best): {eff:.3f}**\n"
        )


if __name__ == "__main__":
    main()
