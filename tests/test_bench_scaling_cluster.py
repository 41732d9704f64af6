"""The executor-scaling bench checks its core budget before it does any
work (no Spark needed: nothing here starts a child or builds a corpus)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench_scaling_cluster as bsc  # noqa: E402


def test_core_budget_counts_executors_and_driver():
    budget, usable = bsc.core_budget(usable={3, 0, 2, 1})
    assert budget == max(bsc.LEVELS) * bsc.CORES_PER_EXEC + bsc.DRIVER_CORES
    assert usable == [0, 1, 2, 3]


def test_too_few_cores_exit_before_corpus_or_child(monkeypatch):
    def never(*args, **kwargs):
        raise AssertionError("ran past the core check")

    budget, _ = bsc.core_budget(usable=set())
    short = set(range(budget - 1))
    monkeypatch.setattr(bsc.os, "sched_getaffinity", lambda pid: short)
    monkeypatch.setattr(bsc, "_ensure_corpus", never)
    monkeypatch.setattr(bsc.subprocess, "run", never)
    monkeypatch.setattr(sys, "argv", ["bench_scaling_cluster.py"])
    with pytest.raises(
        SystemExit, match=f"needs {budget} cores.* only {budget - 1} "
    ):
        bsc.main()
