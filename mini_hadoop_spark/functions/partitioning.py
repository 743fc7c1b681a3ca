"""Partition-shape helpers for compute-heavy pipelines.

The LLM-pipeline operators (shingling, minhash, simhash, text scoring,
embedding math) do expensive per-row expression work, often followed by
an explode that amplifies row counts 50-100x.  When the source parquet
is a single small file, the scan is ONE input split — so all of that
per-row compute runs on one core while the other 31 idle.  That is a
local-mode/small-SF artifact: at any real scale the scan has hundreds
of splits and the same plan parallelizes naturally.

``spread_small_scan`` repairs only the artifact: it hash-
repartitions UP to the session's default parallelism when (and only
when) the plan's scan has fewer partitions than cores.  On a 100 TB
corpus the condition is never true and no shuffle is added; on a
single-file input the shuffle moves only the small file's bytes once,
and every downstream expression runs on all cores.  This mirrors what
``spark.sql.files.maxPartitionBytes``/AQE would do for a LARGE file —
Spark has no knob that splits one small row-group for CPU-bound work,
so the operator states the need explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_hadoop_spark.session import build_once
from mini_hadoop_spark.sources.catalog import load_table


def _hashable_type(dt) -> bool:
    """True when ``xxhash64`` accepts a column of this type.  MapType is
    unhashable (no canonical entry order) anywhere in the type tree —
    Spark's HashExpression rejects it at analysis time."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` up to default parallelism iff its current plan
    yields fewer partitions — a no-op (no added shuffle) on any input
    that already has enough splits.

    r17: the spread hashes a DETERMINISTIC per-row key
    (``xxhash64(*columns)``) instead of round-robin.  A keyless
    ``repartition(n)`` first pays a LOCAL SORT of its input
    (``spark.sql.execution.sortBeforeRepartition``, needed so retried
    tasks reproduce the same row→partition map) — on the single-task
    scans this helper exists for, that sort runs single-threaded before
    any parallelism materializes.  A content-derived hash key needs no
    sort (the assignment is already deterministic under retry, the
    guide-§2.5 recommendation) and spreads just as evenly (xxhash64 is
    full-entropy; only bit-identical rows co-locate).  Every consumer
    is order-independent by the oracle discipline (integer/decimal
    sums, per-row projections), so results are unchanged — re-verified
    against the oracles after the switch."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        # hash only columns xxhash64 accepts (VERDICT r17 #5: MapType
        # anywhere in the type tree is unhashable).  NOTE: the key is
        # row CONTENT, so callers must include at least one
        # high-cardinality column — bit-identical rows co-locate, and a
        # low-cardinality projection would collapse back to few
        # partitions (ADVICE r17).  Every current call site passes a
        # unique-id or full-fact projection.
        cols = [F.col(f.name) for f in df.schema.fields if _hashable_type(f.dataType)]
        if cols:
            return df.repartition(target, F.xxhash64(*cols))
        # no hashable column at all: fall back to round-robin (pays
        # the single-threaded sortBeforeRepartition, but only on a
        # scan this small — correctness over speed in the edge case)
        return df.repartition(target)
    return df


def spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spread_small_scan`` of catalog table ``name``, built once per
    (session, corpus): the partition-count probe costs ~30 ms of
    physical planning, so repeated queries share one spread frame."""
    return build_once(
        spark, sf_dir, ("spread", name), lambda: spread_small_scan(load_table(spark, sf_dir, name))
    )
