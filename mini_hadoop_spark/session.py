"""SparkSession bootstrap sized from the host it runs on.

Local parallelism defaults to the host's core count and the driver heap
(which in local mode is also the executors' heap) to a fixed share of
physical RAM, so the same code runs on a 4-core laptop and a 32-core box.

At 100 TB / 1000 executors the same settings translate to: AQE on (runtime
coalesce + skew-join), shuffle partitions sized to cluster cores, UTC
session timezone (oracle comparability), Arrow for the Pandas-UDF paths.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

#: default driver heap as a share of physical RAM: the rest is left to the
#: JVM's off-heap use, the Python workers and the OS page cache
DRIVER_MEMORY_SHARE = 0.55


def physical_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_memory() -> str:
    """``spark.driver.memory`` default: DRIVER_MEMORY_SHARE of physical
    RAM, in whole MiB."""
    return f"{int(physical_memory_bytes() * DRIVER_MEMORY_SHARE) // (1024 * 1024)}m"


def get_spark(app_name: str = "mini_hadoop_spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: the host's
    core count) and ``SPARK_DRIVER_MEMORY`` the driver heap (default:
    ``default_driver_memory()``).  Shuffle partitions match core count —
    the right setting for local mode; on a real cluster this would be
    ~2-3x total cores and AQE coalesces down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen compiled-class cache (default 100 entries).
        # This application plans ~200 distinct queries x ~8 codegen
        # stages each, so at the default size every generated class is
        # EVICTED between two runs of the same query and janino
        # recompiles the whole plan each time (measured: a complex query
        # re-run after 25 other queries costs ~2.6 s at default vs
        # ~1.5 s with the cache sized to hold the full workload; the
        # penalty is pure driver-side compilation).  Scale-INDEPENDENT:
        # the right size tracks the number of distinct plans the
        # application runs, not the data volume — any multi-query job
        # server wants the same setting.  ~Tens of KB per entry; a few
        # hundred MB ceiling.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # nanosAsLong is NOT set here: the catalog probes each file's
        # actual timestamp encoding and flips the conf only when a nanos
        # column is really present (sources/catalog.py).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Build-once artifacts (indexes, checkpointed pair graphs, drained
# streams, trained models, table plans) keyed on (applicationId,
# normalized sf_dir, name): a fresh session or another corpus never sees
# another's entry.  A hit is one dict lookup; a miss takes the key's own
# lock, so concurrent first callers share one build while builds of
# other keys (including nested ones: the artifact dependencies form a
# DAG) proceed.  A build that raises stores nothing.
_memo: dict[tuple, object] = {}
_key_locks: dict[tuple, threading.Lock] = {}
_key_locks_guard = threading.Lock()


def build_once(spark: SparkSession, sf_dir: str, name, build: Callable):
    """``build()``'s result, built once per (session, corpus, ``name``);
    ``name`` is any hashable, e.g. ``("ivf_lists", k)``."""
    key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir), name)
    try:
        return _memo[key]
    except KeyError:
        pass
    with _key_locks_guard:
        lock = _key_locks.setdefault(key, threading.Lock())
    with lock:
        if key not in _memo:
            _memo[key] = build()
        return _memo[key]


def clear() -> None:
    """Drop every build-once artifact, for harnesses that need cold
    re-runs or rewrite a corpus path in place.  Also frees the blocks of
    every memoized localCheckpoint: ``Dataset.unpersist()`` only drops
    CacheManager entries, so the checkpoint RDD, read off the frame's
    analyzed ``LogicalRDD`` plan, is unpersisted directly."""
    for value in list(_memo.values()):
        for df in value if isinstance(value, tuple) else (value,):
            if not isinstance(df, DataFrame):
                continue
            try:
                plan = df._jdf.queryExecution().analyzed()
                if plan.getClass().getSimpleName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
            except Py4JError:
                pass  # a stopped session has already freed the blocks
    _memo.clear()
    with _key_locks_guard:
        _key_locks.clear()
