"""Host sizing of the session factory (no Spark session needed)."""

from __future__ import annotations

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
