"""The ``spark`` fixture outlives a stopped context and a dead driver JVM.

All tests share one session, so before this guard one ``spark.stop()``
or one OOM-killed JVM failed every later test with
``SESSION_OR_CONTEXT_NOT_EXISTS``. The probe suite runs in a child pytest
with the repository's conftest, on a small session of its own."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

_TESTS = os.path.dirname(os.path.abspath(__file__))

_PROBE = '''
import os
import signal
import time

import conftest


def test_stop(spark):
    assert spark.range(3).count() == 3
    spark.stop()
    assert conftest.spark_state() == "stopped"


def test_after_stop(spark):
    assert spark.range(4).count() == 4


def test_kill_jvm(spark):
    os.kill(spark._jvm.ProcessHandle.current().pid(), signal.SIGKILL)
    deadline = time.time() + 30
    while conftest.spark_state() != "dead" and time.time() < deadline:
        time.sleep(0.1)
    assert conftest.spark_state() == "dead"


def test_after_jvm_death(spark):
    assert spark.range(5).count() == 5


def test_stop_beyond_repair(spark):
    def no_session():
        raise RuntimeError("probe: no new session")

    conftest._new_session = no_session
    spark.stop()


def test_spark_after_failed_repair(spark):
    assert spark.range(1).count() == 1


def test_without_spark_still_runs():
    assert True
'''


def test_fixture_recovers_from_stop_and_jvm_death(tmp_path):
    shutil.copy(os.path.join(_TESTS, "conftest.py"), tmp_path / "conftest.py")
    (tmp_path / "test_probe.py").write_text(_PROBE)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(
            p for p in (os.path.dirname(_TESTS), os.environ.get("PYTHONPATH")) if p
        ),
    )
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         "test_probe.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    out = r.stdout + r.stderr
    # the unrepairable case fails its Spark test at setup with one message
    assert "6 passed, 1 error" in r.stdout, out[-4000:]
    assert "ERROR test_probe.py::test_spark_after_failed_repair" in r.stdout
    assert "could not be recreated (RuntimeError: probe: no new session)" in r.stdout
    assert "SESSION_OR_CONTEXT_NOT_EXISTS" not in out
