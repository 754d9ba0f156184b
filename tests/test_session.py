"""Session sizing fits the host: the driver heap defaults to half of
physical RAM rather than a fixed size that can exceed it."""

from __future__ import annotations

import os

from kg.session import host_driver_memory

MEMINFO = "MemTotal:       {kb} kB\nMemFree:        1024 kB\n"


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(MEMINFO.format(kb=kb))
    return str(p)


def test_host_driver_memory_is_half_of_physical_ram(tmp_path):
    assert host_driver_memory(_meminfo(tmp_path, 16_456_384)) == "7g"  # 15.7 GB
    assert host_driver_memory(_meminfo(tmp_path, 64 * 1024 * 1024)) == "32g"
    assert host_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1g"  # floor at 1g
    assert host_driver_memory(str(tmp_path / "absent")) == "24g"


def test_session_uses_env_heap_or_host_default(spark):
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected
