"""Session sizing (the defaults derive from the host, not a fixed box),
the Python worker daemon and the session-scoped build-once memo."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading
import time
from pathlib import Path

import pytest

from mini_hadoop_spark.session import (
    build_once,
    clear,
    clone_session,
    default_driver_memory,
    physical_memory_bytes,
    rebind,
    release,
)
from tests.conftest import SF_DIR, checkpoint_rdd_id, persistent_rdd_ids


def test_default_driver_heap_is_below_physical_ram():
    heap = default_driver_memory()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 1024 * 1024
    assert 0 < heap_bytes < physical_memory_bytes() * 0.56


def test_worker_reads_no_zip_directory_per_task(spark):
    """Every task's setup calls ``importlib.invalidate_caches()``; before
    CPython 3.13 that re-reads each zip archive's directory (pyspark.zip,
    py4j) unless the worker forked from ``worker_daemon``."""

    def zip_reads_on_invalidate(_rows):
        import importlib
        import zipimport

        reads = [0]
        read_directory = zipimport._read_directory

        def counted(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield reads[0], sum(p.endswith(".zip") for p in sys.path)

    [(reads, zips)] = spark.sparkContext.parallelize([0], 1).mapPartitions(zip_reads_on_invalidate).collect()
    assert zips >= 1
    if sys.version_info < (3, 13):
        assert reads == 0


def test_workers_import_the_daemon_from_any_cwd(tmp_path):
    """A driver started outside the repo, reaching the package only by a
    ``sys.path`` insertion, still runs Python tasks: the workers import
    the daemon module through the executors' PYTHONPATH."""
    repo = Path(__file__).resolve().parent.parent
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(repo)!r})
        from mini_hadoop_spark.session import get_spark
        spark = get_spark("daemon-cwd", cpus=2)
        print(spark.sparkContext.parallelize([1, 2], 2).map(lambda x: x + 1).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[2, 3]"


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


@pytest.mark.parametrize("build", ["pagerank_converged", "ivf_stream_drain"])
def test_clear_returns_the_rdd_registry_to_its_base(spark, build):
    """Builds that checkpoint in a loop or a streaming sink free every
    intermediate they own, and their memoized result is a checkpoint
    clear() can see: after clear() no RDD the build persisted is left."""
    from mini_hadoop_spark.streaming.windowed import _ivf_stream_drained
    from mini_hadoop_spark.workloads.parity import pagerank_converged_query

    run = {
        "pagerank_converged": lambda: pagerank_converged_query(spark, SF_DIR).collect(),
        "ivf_stream_drain": lambda: _ivf_stream_drained(spark, SF_DIR),
    }[build]
    clear()
    before = persistent_rdd_ids(spark)
    run()
    assert persistent_rdd_ids(spark) - before
    clear()
    assert not persistent_rdd_ids(spark) - before


def test_release_frees_only_the_top_checkpoint(spark):
    """release() frees a checkpoint frame's RDD, but a frame that merely
    reads a checkpoint (a projection over it) leaves that RDD alone."""
    ckpt = spark.range(8).localCheckpoint(eager=True)
    rdd_id = checkpoint_rdd_id(ckpt)
    release(ckpt.select((ckpt.id + 1).alias("x")))
    assert rdd_id in persistent_rdd_ids(spark)
    release(ckpt)
    assert rdd_id not in persistent_rdd_ids(spark)


def test_rebind_plans_under_the_target_session_and_keeps_checkpoints(spark):
    """A grouped frame rebound into a 1-partition clone plans 1 shuffle
    partition while its own session's conf is unchanged; a checkpoint
    rebound back keeps its LogicalRDD top node, so release() frees it.
    AQE is off in both sessions so coalescing cannot hide the count."""
    key = "spark.sql.shuffle.partitions"
    caller = clone_session(spark, 3)
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    grouped = caller.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    try:
        rebound = rebind(grouped, clone_session(caller, 1))
    except Exception as exc:  # noqa: BLE001 — the message names the dependency
        pytest.fail(
            "session.rebind calls org.apache.spark.sql.classic.Dataset.ofRows "
            f"over py4j, which this PySpark no longer provides: {exc}"
        )
    assert rebound.rdd.getNumPartitions() == 1
    assert grouped.rdd.getNumPartitions() == 3
    assert caller.conf.get(key) == "3"
    back = rebind(rebound.localCheckpoint(eager=True), caller)
    rdd_id = checkpoint_rdd_id(back)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in grouped.collect())
    release(back)
    assert rdd_id not in persistent_rdd_ids(spark)


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
