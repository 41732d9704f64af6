"""Shared fixtures (reference analog: ``wallaby2caom2/tests/conftest.py``)."""

from __future__ import annotations

import pytest

from wallaby2caom2_spark import datagen, oracle

# The one session the `spark` fixture handed out (``"session"``), and why
# it could not be brought back (``"broken"``, set once reviving it failed).
_SPARK = pytest.StashKey[dict]()


def _new_session():
    from wallaby2caom2_spark.session import get_spark

    s = get_spark(app_name="w2c2s-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    return s


def spark_state() -> str:
    """``"live"``; ``"stopped"`` (the SparkContext is stopped, its JVM is
    up); or ``"dead"`` (the driver JVM is gone, e.g. OOM-killed)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        SparkContext._jvm.java.lang.System.nanoTime()
    except (Py4JError, OSError):
        return "dead"
    sc = SparkContext._active_spark_context
    if sc is None or sc._jsc is None or sc._jsc.sc().isStopped():
        return "stopped"
    return "live"


def _revive(s) -> None:
    """Rebuild the session after a stop or a JVM death and point the
    handed-out object at it, so every later test gets a live session
    instead of ``SESSION_OR_CONTEXT_NOT_EXISTS``. Frames cached by
    module/session fixtures on the old context stay dead."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql.context import SQLContext

    dead = spark_state() == "dead"
    sc = SparkContext._active_spark_context
    if sc is not None:
        if dead:  # nothing to stop on the JVM side
            sc._jsc = None
        sc.stop()
    if dead:  # the next SparkContext launches a new JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    SQLContext._instantiatedContext = None
    s.__dict__.update(_new_session().__dict__)


def _ensure_live(config, uses_spark: bool) -> None:
    state = config.stash.setdefault(_SPARK, {})
    s = state.get("session")
    if s is not None and "broken" not in state and spark_state() != "live":
        try:
            _revive(s)
        except Exception as e:
            state["broken"] = (
                "the Spark session was stopped or its driver JVM died (check "
                "dmesg for the OOM killer) and could not be recreated "
                f"({type(e).__name__}: {e}); every later Spark test fails "
                "here — the first failure before this one is the cause"
            )
    if uses_spark and "broken" in state:
        pytest.fail(state["broken"], pytrace=False)


@pytest.fixture(scope="session")
def spark(request):
    s = request.config.stash.setdefault(_SPARK, {})["session"] = _new_session()
    yield s
    if spark_state() != "dead":
        s.stop()


@pytest.fixture(scope="module", autouse=True)
def _spark_alive_for_module(request):
    """Before the module's own fixtures build frames on the session."""
    _ensure_live(
        request.config,
        any(
            "spark" in getattr(item, "fixturenames", ())
            for item in request.session.items
            if getattr(item, "module", None) is request.module
        )
    )


@pytest.fixture(autouse=True)
def _spark_alive(request):
    _ensure_live(request.config, "spark" in request.fixturenames)


@pytest.fixture
def new_jobs(spark):
    """``new_jobs(fn)`` runs ``fn()`` and returns its result and the ids
    of the Spark jobs it started, read once the listener bus has delivered
    every job event."""
    sc = spark.sparkContext

    def run(fn):
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, set(sc.statusTracker().getJobIdsForGroup(None)) - before

    return run


@pytest.fixture(scope="session")
def clips_rows():
    """Deterministic e2e fixture rows (seed pinned — the committed golden
    file tests/data/golden_labels.jsonl was produced from these)."""
    return list(datagen.generate_rows(1000, seed=7))


@pytest.fixture(scope="session")
def oracle_labels(clips_rows):
    return oracle.label_rows(clips_rows)


@pytest.fixture(scope="session")
def clips_df(spark, clips_rows):
    df = spark.createDataFrame(
        datagen.generate_table(1000, seed=7).to_pandas(),
        schema="clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    df.persist()
    df.count()
    return df
