"""spread_small_scan edge cases (VERDICT r17 #5/#9): the helper is
generic, so it must not blow up on column types xxhash64 rejects; and
spread_table's memo is the session's build-once memo."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_hadoop_spark.functions import partitioning as P
from tests.conftest import SF_DIR


def test_spread_skips_map_type_columns(spark):
    # a MapType column anywhere in the frame used to feed xxhash64 and
    # fail analysis; the guard hashes only the hashable columns
    df = spark.range(0, 64, 1, 1).select(
        F.col("id"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.create_map(F.lit("n"), F.col("id"))).alias("am"),
        F.struct(F.create_map(F.lit("s"), F.col("id")).alias("im")).alias("sm"),
    )
    out = P.spread_small_scan(df)
    # still spreads (id is hashable) and computes without analysis errors
    assert out.rdd.getNumPartitions() > 1
    assert out.count() == 64


def test_spread_all_unhashable_falls_back_to_round_robin(spark):
    df = spark.range(0, 16, 1, 1).select(
        F.create_map(F.lit("k"), F.col("id")).alias("m")
    )
    out = P.spread_small_scan(df)
    assert out.rdd.getNumPartitions() > 1
    assert out.count() == 16


def test_spread_table_built_once_per_session_memo(spark):
    """spread_table goes through build_once: repeat calls return the same
    frame, and clear() drops it with every other artifact."""
    from mini_hadoop_spark.session import clear

    first = P.spread_table(spark, SF_DIR, "documents")
    assert P.spread_table(spark, SF_DIR, "documents") is first
    clear()
    fresh = P.spread_table(spark, SF_DIR, "documents")
    assert fresh is not first
    assert P.spread_table(spark, SF_DIR, "documents") is fresh


def test_spread_noop_when_enough_partitions(spark):
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, 1, n)
    assert P.spread_small_scan(df) is df
