"""Session sizing: the default pre-touched driver heap fits the host."""

from __future__ import annotations

from axosyslog_spark.session import available_memory, default_driver_mem

GIB = 1 << 30


def _gib(mem: str) -> int:
    assert mem.endswith("g")
    return int(mem[:-1])


def test_default_heap_fits_this_host():
    avail = available_memory()
    assert avail is not None  # Linux: cgroup limit and/or /proc/meminfo
    heap = _gib(default_driver_mem()) * GIB
    assert 2 * GIB <= heap <= 16 * GIB
    # a third of what is available, unless that is under the 2g floor
    assert heap <= max(avail // 3, 2 * GIB)


def test_default_heap_formula():
    assert default_driver_mem(15 * GIB) == "5g"
    assert default_driver_mem(15 * GIB - 1) == "4g"  # whole GiB, rounded down
    assert default_driver_mem(64 * GIB) == "16g"  # capped
    assert default_driver_mem(1 * GIB) == "2g"  # floor
    assert default_driver_mem(0) == "2g"  # unknown memory
