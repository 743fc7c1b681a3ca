"""Session sizing: the defaults derive from the host, not a fixed box."""

from __future__ import annotations

from mini_hadoop_spark.session import default_driver_memory, physical_memory_bytes


def test_default_driver_heap_is_below_physical_ram():
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 1024 * 1024
    assert 0 < heap_bytes < physical_memory_bytes() * 0.56
