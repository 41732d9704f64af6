"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload filter_decode --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed``, starts a session sized
from this host, warms up, runs the workload's closed loop for
``--seconds``, checks every operation's output, and prints each metric
by name and unit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json under ``--trace 0`` and its per-layer metrics
under ``--trace 1``. The full report (every sample, the run context and,
when traced, the spans) is written under ``.perfbench/reports/``.

Everything the run writes stays under ``.perfbench/`` in the checkout.
See perfbench/README.md for why each workload exists.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")
GEN_REPEATS = 2  # setup_s takes the median generation time of these


def host_sizing() -> tuple[int, int]:
    """(cores, driver heap MiB): every core this process may run on, and an
    eighth of MemAvailable in 512 MiB steps, between 1 and 4 GiB. The
    session pins and pre-touches the heap, and the JVM's off-heap memory
    and one Python worker per core come on top of it."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        avail_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemAvailable:"))
    heap_mb = int(avail_kb / 1024 / 8) // 512 * 512
    return cpus, min(4096, max(1024, heap_mb))


def configure_env(work: str, cpus: int, heap_mb: int) -> dict:
    """Session sizing and scratch locations, set before the JVM starts.
    Returns what was set, for the run record."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between.
    On a shared host, slow runs come with steal."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "wallaby2caom2_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return r.stdout.strip() or None


def corpus_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """What one benchmark run shares with its workload."""

    def __init__(self, workload: str, seed: int, cpus: int, work: str, traced: bool):
        from measure import Tracer
        from workloads import Counter, input_seed

        self.workload, self.seed, self.cpus, self.work = workload, seed, cpus, work
        self.input_seed = input_seed(workload, seed)
        self.tracer = Tracer(f"{workload}-{seed}-{int(time.time())}", enabled=traced)
        self.counter = Counter()
        self.spark = None
        self.corpus = ""


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("filter_decode", "upsert_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layers.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus, heap_mb = host_sizing()
    env = configure_env(work, cpus, heap_mb)

    sys.path.insert(0, ROOT)
    from bench_common import host_probe
    from wallaby2caom2_spark.observe import StageMetricsAudit
    from wallaby2caom2_spark.session import get_spark

    import procs
    import workloads
    from measure import median

    run = Run(args.workload, args.seed, cpus, work, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    tracer = run.tracer
    probe_before = host_probe()

    # set-up: generation (repeated; same seed must give the same bytes),
    # session start, warm-up
    gen_s, digests = [], []
    for k in range(GEN_REPEATS):
        path = os.path.join(work, f"corpus{k}")
        with tracer.span("datagen.write_clips_parquet") as s:
            wl.generate(path, run.input_seed, workers=min(4, cpus))
        gen_s.append(s.seconds)
        digests.append(corpus_digest(path))
        if k:
            shutil.rmtree(path)
    run.counter.record(
        "same seed, same corpus bytes",
        [] if len(set(digests)) == 1 else [f"{len(set(digests))} distinct corpora"],
    )
    run.corpus = os.path.join(work, "corpus0")
    corpus_bytes = sum(
        os.path.getsize(os.path.join(run.corpus, f)) for f in os.listdir(run.corpus)
    )

    sampler = procs.MemSampler()
    sampler.start()
    spark = None
    try:
        with tracer.span("session.get_spark") as s:
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
        session_start_s = s.seconds
        run.spark = spark
        t = time.perf_counter()
        wl.prepare(run)  # oracle labels: the benchmark's own cost, not set-up
        check_prep_s = time.perf_counter() - t
        with tracer.span("warmup") as s:
            wl.warmup()
        warmup_s = s.seconds
        setup_s = median(gen_s) + session_start_s + warmup_s

        with StageMetricsAudit(spark) as audit:
            cpu0 = cpu_times()
            t0 = time.perf_counter()
            steps = 0
            min_steps = wl.min_traced_steps if args.trace else wl.min_steps
            while steps < min_steps or time.perf_counter() - t0 < args.seconds:
                with tracer.span("op"):
                    wl.step(traced=bool(args.trace))
                steps += 1
            measured_s = time.perf_counter() - t0
            steal = steal_share(cpu0, cpu_times())
        wl.finish()
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        sampler.stop()
        engine = [pid for pid, _ in procs.engine_pids()]
        if spark is not None:
            stop_session(spark)
        procs.wait_gone(engine)
    probe_after = host_probe()

    c = run.counter
    report = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_gb": {"value": sampler.peak_rss / 1e9, "unit": "GB"},
        "peak_pss_gb": {"value": sampler.peak_pss / 1e9, "unit": "GB"},
        "failed_op_ratio": {"value": c.failed / c.attempted, "unit": "ratio"},
        **wl.report(),
    }
    layers = {
        name: 0.0
        for name, m in spec["layer_metrics"].items()
        if args.workload not in m.get("only_on", workloads.WORKLOADS)
    }
    if args.trace:
        layers.update(wl.layers())
        layers.update({
            "session_start_s": session_start_s,
            "gen_s": median(gen_s),
            "tasks": audit.totals["num_tasks"],
            "failed_tasks": audit.totals["num_failed_tasks"],
        })

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "input_seed": run.input_seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "context": {
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            "corpus_bytes": corpus_bytes,
            "corpus_sha256": digests[0],
            "cpus": cpus,
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
            "shuffle_dir": env["SPARK_GRAFT_LOCAL_DIR"],
            "spark_conf": conf,
            "host_probe_before": probe_before,
            "steal_share_measured": steal,
            "peak_pss_processes": sampler.peak_procs,
            "host_probe_after": probe_after,
        },
        "setup": {"gen_s": gen_s, "session_start_s": session_start_s,
                  "warmup_s": warmup_s, "check_prep_s": check_prep_s},
        "measured_s": measured_s,
        "samples": {k: v for k, v in vars(wl).items()
                    if isinstance(v, list) and v and isinstance(v[0], (int, float))},
        "attempted": c.attempted,
        "failed": c.failed,
        "failures": c.failures,
        "report": report,
        "layers": layers if args.trace else None,
        "self_time_s": tracer.self_times() if args.trace else None,
    }
    reports = os.path.join(WORK_ROOT, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as fh:
            for r in tracer.records():
                fh.write(json.dumps(r) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} cpus={cpus} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} "
          f"shuffle_dir={env['SPARK_GRAFT_LOCAL_DIR']} report={stem}.json")
    for name, m in report.items():
        extra = "".join(f" {k}={m[k]}" for k in ("percentile", "samples") if k in m)
        print(f"{name} = {m['value']} {m['unit']}{extra}")
    if args.trace:
        for name, v in layers.items():
            print(f"{name} = {v} {spec['layer_metrics'][name]['unit']}")
        for name, v in sorted(record["self_time_s"].items()):
            print(f"self_time[{name}] = {v} s")
    for f in c.failures:
        print(f"FAILED {f}")

    if args.trace:
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": report[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({
        "correct": c.failed == 0,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
