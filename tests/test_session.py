"""Session defaults derived from the machine."""

from __future__ import annotations

from parquet_to_arrow_spark.session import default_driver_memory


def test_driver_memory_is_half_of_ram_capped_at_24g(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:       16002780 kB\n")
    assert default_driver_memory(str(meminfo)) == "7813m"  # a 15 GB box
    meminfo.write_text("MemTotal:       263842416 kB\n")
    assert default_driver_memory(str(meminfo)) == "24576m"
    meminfo.write_text("MemFree:  1000 kB\n")
    assert default_driver_memory(str(meminfo)) == "24576m"
    assert default_driver_memory(str(tmp_path / "missing")) == "24576m"
