"""Session sizing (the defaults derive from the host, not a fixed box)
and the session-scoped build-once memo."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from mini_hadoop_spark.session import (
    build_once,
    clear,
    default_driver_memory,
    physical_memory_bytes,
)
from tests.conftest import SF_DIR, persistent_rdd_ids


def test_default_driver_heap_is_below_physical_ram():
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 1024 * 1024
    assert 0 < heap_bytes < physical_memory_bytes() * 0.56


def test_clear_frees_checkpoint_blocks_of_every_artifact(spark):
    """clear() frees the localCheckpoint blocks of every memoized
    artifact, not only the classifier's: the shingle index and the IVF
    quantizer/lists hold no blocks afterwards."""
    from mini_hadoop_spark.operators import dedup, similarity

    clear()
    before = persistent_rdd_ids(spark)
    dedup._doc_shingles(spark, SF_DIR)
    similarity.ivf_lists(spark, SF_DIR)
    assert persistent_rdd_ids(spark) - before
    clear()
    assert not persistent_rdd_ids(spark) - before


def test_concurrent_misses_share_one_build(spark):
    """More racing first callers than cores, with a short switch
    interval: the build runs once and every caller gets its result."""
    n_threads = 2 * (os.cpu_count() or 1) + 2
    calls = []
    gate = threading.Barrier(n_threads)
    key = ("test_concurrent", id(calls))

    def build():
        calls.append(1)
        time.sleep(0.2)  # hold the key's lock while the others arrive
        return object()

    got = []

    def work():
        gate.wait(timeout=30)
        got.append(build_once(spark, SF_DIR, key, build))

    threads = [threading.Thread(target=work, daemon=True) for _ in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(got) == n_threads and all(g is got[0] for g in got)


def test_nested_build_of_another_key_completes(spark):
    """A build may build another key (near_dup_labels -> near_dup_pairs,
    ivf_lists -> ivf_quantizer): per-key locks, so no deadlock."""
    done = []

    def outer():
        inner = build_once(spark, SF_DIR, ("test_nested", "inner"), lambda: 1)
        return inner + 1

    t = threading.Thread(
        target=lambda: done.append(build_once(spark, SF_DIR, ("test_nested", "outer"), outer)),
        daemon=True,
    )
    t.start()
    t.join(timeout=30)
    assert not t.is_alive()
    assert done == [2]


def test_failed_build_stores_nothing(spark):
    key = ("test_failed", id(spark))

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        build_once(spark, SF_DIR, key, boom)
    assert build_once(spark, SF_DIR, key, lambda: "rebuilt") == "rebuilt"
