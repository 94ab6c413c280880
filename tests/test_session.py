"""Session defaults fit the host."""

from __future__ import annotations

import os

from entity_resolution__spark.session import (
    default_cpus,
    default_driver_memory,
    driver_rows,
)


def test_default_cpus_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_falls_back_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert default_cpus() == 2


def test_gc_opts_read_only_the_thread_field_of_local():
    """``local[N,maxFailures]`` pins GC to N threads; ``local-cluster[...]``
    and cluster masters get no options (their executors are other JVMs)."""
    from entity_resolution__spark.session import _gc_opts

    region = " -XX:G1HeapRegionSize=16m"
    assert _gc_opts("local[4,2]") == "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1" + region
    assert _gc_opts("local[8]") == "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2" + region
    assert _gc_opts("local") == "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1" + region
    assert _gc_opts("local[*]").startswith("-XX:ParallelGCThreads=")
    assert _gc_opts("local-cluster[2,1,1024]") == ""
    assert _gc_opts("spark://host:7077") == ""


def test_driver_memory_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_driver_memory_defaults_to_half_of_physical(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 4_000_000}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    mem = default_driver_memory()
    phys = 4096 * 4_000_000
    assert mem.endswith("m")
    assert int(mem[:-1]) * 2**20 <= phys
    assert int(mem[:-1]) == phys // 2 // 2**20


def test_driver_rows_is_a_heap_share_over_row_width(spark, monkeypatch):
    from entity_resolution__spark import session

    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    pairs = spark.createDataFrame([("a", "b")], "src string, dst string")
    ids = spark.createDataFrame([(1,)], "node long")
    budget = int(session.DRIVER_HEAP_FRACTION * heap)
    assert session.DRIVER_HEAP_FRACTION == 1 / 100
    assert driver_rows(pairs) == budget // 40
    assert driver_rows(ids) == budget // 8
    monkeypatch.setattr(session, "DRIVER_HEAP_FRACTION", 0.0)
    assert driver_rows(pairs) == 0
