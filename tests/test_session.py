"""Host-derived session sizing: the driver heap follows physical RAM
unless SPARK_GRAFT_DRIVER_MEM pins it (a fixed 16g heap is OOM-killed
on a 16 GB host)."""

from __future__ import annotations

import pytest

from lsh_apg_spark.session import _gib, driver_memory


@pytest.mark.parametrize("mem_gib, heap", [
    (15.7, "6g"),    # 40% of RAM, rounded down
    (1.5, "1g"),     # floor
    (128.0, "16g"),  # cap
])
def test_driver_memory_from_ram(monkeypatch, mem_gib, heap):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(mem_gib) == heap


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(15.7) == "3g"


def test_jvm_size_strings():
    assert _gib("6g") == _gib("6144m") == _gib("6144") == _gib("6GB") == 6.0
    assert _gib("512mb") == 0.5
