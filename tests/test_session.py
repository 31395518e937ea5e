"""``SPARK_GRAFT_CPUS`` parsing: unset, empty or 0 means the host's core
count; anything else that is not a non-negative integer fails loudly.
``SPARK_GRAFT_DRIVER_MEM`` sets the heap maximum and, from it, the
initial heap and the G1 region size."""

from __future__ import annotations

import os

import pytest

from map_reduce_spark.session import DRIVER_HEAP_START_MB, _cpus, _driver_java_options


@pytest.mark.parametrize("value", [None, "", "0"])
def test_cpus_auto(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert _cpus() == (os.cpu_count() or 8)


def test_cpus_explicit(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3


@pytest.mark.parametrize("value", ["four", "2.5", "-1"])
def test_cpus_rejects_bad_value(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _cpus()


@pytest.mark.parametrize(
    "mem, opts",
    [
        ("16g", f"-Xms{DRIVER_HEAP_START_MB}m"),
        ("8G", f"-Xms{DRIVER_HEAP_START_MB}m"),
        ("1g", f"-Xms{DRIVER_HEAP_START_MB}m -XX:G1HeapRegionSize=4m"),
        ("256m", "-Xms256m -XX:G1HeapRegionSize=4m"),
        ("300", "-Xms300m -XX:G1HeapRegionSize=4m"),
        ("262144kb", "-Xms256m -XX:G1HeapRegionSize=4m"),
        ("384 MB", "-Xms384m -XX:G1HeapRegionSize=4m"),
    ],
)
def test_driver_heap_options(mem, opts):
    assert _driver_java_options(mem) == opts


@pytest.mark.parametrize("mem", ["", "lots", "1.5g", "-1g"])
def test_driver_heap_options_reject_bad_memory_size(mem):
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        _driver_java_options(mem)


def test_session_jvm_gets_the_heap_options(spark):
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    assert set(_driver_java_options(mem).split()) <= set(args)
