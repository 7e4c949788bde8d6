"""get_spark's defaults come from the machine: the core count from the
process affinity mask and a driver heap below physical RAM, each
still overridable by its environment variable."""

import os

from carbon_clickhouse_spark import session


def test_cpus_default_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._default_cpus() == 3


def test_driver_heap_stays_below_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session._default_driver_memory()
    assert heap.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(heap[:-1]) < phys_mb
    assert int(heap[:-1]) <= 16384
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session._default_driver_memory() == "2g"
