"""Host sizing of the session factory, and its driver-built frames."""

from __future__ import annotations

import ast
import os

from pyspark.sql import types as T

from wallaby2caom2_spark import session

GIB_KB = 1024 * 1024


def test_driver_heap_is_40_percent_of_available_between_1g_and_12g():
    assert session.driver_mem_for(15 * GIB_KB) == "6144m"
    assert session.driver_mem_for(10 * GIB_KB) == "4096m"
    # cap: a large host still gets at most the old flat 12g
    assert session.driver_mem_for(64 * GIB_KB) == "12288m"
    # floor: a nearly full host still gets a heap Spark accepts
    assert session.driver_mem_for(GIB_KB) == "1024m"


def test_driver_mem_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_mem() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    mb = int(session.default_driver_mem().rstrip("m"))
    assert 1024 <= mb <= 12 * 1024


def test_shuffle_width_is_twice_the_cores(spark):
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        2 * spark.sparkContext.defaultParallelism
    )


def test_local_frame_plans_in_the_jvm(spark):
    """Driver-built frames scan a local relation: no Python RDD
    (``Scan ExistingRDD``), so no action on them starts a Python worker."""
    from pyspark.sql import Row

    df = session.local_frame(
        spark,
        [("a", 1, None), Row(k="b", n=2, x=0.5)],
        "k string, n int, x double",
    )
    assert df.collect() == [Row(k="a", n=1, x=None), Row(k="b", n=2, x=0.5)]
    assert df.dtypes == [("k", "string"), ("n", "int"), ("x", "double")]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "Python" not in plan, plan
    empty = session.local_frame(
        spark, [], T.StructType([T.StructField("b", T.BinaryType())])
    )
    assert empty.collect() == [] and empty.dtypes == [("b", "binary")]


def test_only_local_frame_calls_create_dataframe():
    """Every frame the package builds from Python rows goes through
    ``session.local_frame``; a stray ``createDataFrame`` would bring back a
    Python-worker job per action."""
    pkg = os.path.dirname(session.__file__)
    stray = []
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            allowed = {
                id(node)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef)
                and fn.name == "local_frame"
                and os.path.samefile(path, session.__file__)
                for node in ast.walk(fn)
            }
            stray += [
                f"{os.path.relpath(path, pkg)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ]
    assert stray == [], stray
