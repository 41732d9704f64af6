"""The engine's processes, as /proc shows them: the driver JVM this
process launched and the Python daemon and workers the JVM forks.

Spark-free, like measure.py.
"""

from __future__ import annotations

import os
import signal
import threading
import time

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except (FileNotFoundError, ProcessLookupError):
        return ""


def engine_pids() -> list[tuple[int, str]]:
    """(pid, command line) of the JVM and its Python daemon and workers,
    among this process's descendants. A child the JVM spawns shares its
    address space until it execs, and meanwhile reads as the JVM again
    (or as nothing); it is left out."""
    out = []
    seen: set[int] = set()
    todo = [(c, "") for c in _children(os.getpid())]
    while todo:
        pid, parent_cmd = todo.pop()
        if pid in seen:  # a child can be listed under two threads
            continue
        seen.add(pid)
        cmd = _cmdline(pid)
        java = cmd.startswith("/") and "/java " in cmd
        if "pyspark" in cmd or (java and "/java " not in parent_cmd):
            out.append((pid, cmd))
        todo.extend((c, cmd) for c in _children(pid))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every process in ``pids`` has exited, and kill any still
    running after ``timeout_s``. Python workers outlive the JVM that forked
    them by a moment, and are no longer this process's descendants then,
    so the caller lists them before it stops the JVM."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _mem_bytes(pid: int) -> tuple[int, int]:
    """(Rss, Pss) of one process, in bytes."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1]) * 1024
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return rss, pss


class MemSampler(threading.Thread):
    """Peak summed memory of the engine's processes. RSS counts the pages
    a forked worker shares with its daemon once per worker; PSS splits
    shared pages among their sharers, so its sum is the footprint the host
    actually pays.

    One sample reads smaps_rollup of every engine process, which walks
    the page tables of the JVM's pinned heap: tens of milliseconds of
    kernel time under the JVM's mmap lock. Sampling once a second keeps
    that below a few percent of one core."""

    def __init__(self, interval_s: float = 1.0):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_rss = self.peak_pss = 0
        self.peak_procs: list[tuple[str, int]] = []  # (command, PSS) at the PSS peak
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            rss = pss = 0
            procs = []
            for pid, cmd in engine_pids():
                r, p = _mem_bytes(pid)
                rss, pss = rss + r, pss + p
                procs.append((cmd, p))
            self.peak_rss = max(self.peak_rss, rss)
            if pss > self.peak_pss:
                self.peak_pss, self.peak_procs = pss, procs
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
