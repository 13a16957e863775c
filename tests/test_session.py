"""Session defaults derived from the machine."""

from __future__ import annotations

import os

from parquet_to_arrow_spark.session import available_cores, default_driver_memory


def test_driver_memory_is_half_of_ram_capped_at_24g(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:       16002780 kB\n")
    assert default_driver_memory(str(meminfo)) == "7813m"  # a 15 GB box
    meminfo.write_text("MemTotal:       263842416 kB\n")
    assert default_driver_memory(str(meminfo)) == "24576m"
    meminfo.write_text("MemFree:  1000 kB\n")
    assert default_driver_memory(str(meminfo)) == "24576m"
    assert default_driver_memory(str(tmp_path / "missing")) == "24576m"


def test_core_count_follows_cpu_affinity(monkeypatch):
    """Cores come from the affinity mask (what nproc counts), not from
    os.cpu_count(), which counts every CPU of the machine."""
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert available_cores() == 3
