"""Session sizing: the default heap comes from the host's memory."""

from __future__ import annotations

import os

import pytest


def test_default_heap_fits_physical_memory(monkeypatch):
    from mini_hadoop_spark import session

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session.driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) * 2**20 <= session._physical_memory_bytes()


def test_heap_env_override_wins(monkeypatch):
    from mini_hadoop_spark import session

    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"


def test_physical_memory_reads_meminfo():
    from mini_hadoop_spark import session

    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert session._physical_memory_bytes() == kb * 1024
