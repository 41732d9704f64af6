"""Memory-bandwidth ceiling probe — evidence for the 8→32 scaling analysis.

Measures AGGREGATE streaming-copy bandwidth (numpy memcpy of a 512 MB
working set, far beyond LLC) with K concurrent taskset-pinned processes,
K in (1, 4, 8, 16, 32). If per-process bandwidth falls as K grows while
cores are otherwise idle, the single VM's DRAM subsystem — not the Spark
plan — is the scaling limiter at high core counts; a real 4N-executor
cluster adds a memory system per node.

Prints one JSON line: {"levels": {K: {"agg_gbps": ..., "per_proc_gbps": ...}}}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

N_BYTES = 512 * 1024 * 1024
REPS = 5
LEVELS = (1, 4, 8, 16, 32)


def _child() -> None:
    import numpy as np

    src = np.ones(N_BYTES // 8, dtype=np.float64)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # warm / fault pages
    t0 = time.time()
    for _ in range(REPS):
        np.copyto(dst, src)
    dt = time.time() - t0
    # copy reads + writes the working set once per rep
    print(json.dumps({"gbps": 2 * REPS * N_BYTES / dt / 1e9}))


def _measure(k: int) -> float:
    procs = []
    n_cores = os.cpu_count() or 1
    for i in range(k):
        core = (n_cores - 1) - (i % n_cores)
        procs.append(
            subprocess.Popen(
                ["taskset", "-c", str(core), sys.executable,
                 os.path.abspath(__file__), "--child"],
                stdout=subprocess.PIPE, text=True,
            )
        )
    speeds = []
    for p in procs:
        stdout, _ = p.communicate()
        speeds.append(json.loads(stdout.strip().splitlines()[-1])["gbps"])
    return sum(speeds)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child()
        return
    rounds = int(os.environ.get("MEMBW_ROUNDS", "3"))
    # interleave levels across rounds and keep the BEST aggregate per level
    # (the least-hypervisor-interference protocol of bench_scaling_cluster.py)
    best: dict[int, float] = {k: 0.0 for k in LEVELS}
    for r in range(rounds):
        for k in LEVELS:
            agg = _measure(k)
            best[k] = max(best[k], agg)
            print(f"# round {r} {k} procs: agg {agg:.1f} GB/s", file=sys.stderr)
    out = {
        str(k): {"agg_gbps": round(v, 2), "per_proc_gbps": round(v / k, 2)}
        for k, v in best.items()
    }
    print(json.dumps({"metric": "membw_probe", "estimator": "max-of-rounds",
                      "rounds": rounds, "levels": out}))


if __name__ == "__main__":
    main()
