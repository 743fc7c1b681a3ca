"""Skew-operator tests: result-invariance of the salted plans against
their unsalted twins."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_salted_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.skew import agg_salted_skew
    from mini_hadoop_spark.sources.catalog import load_table

    got = {tuple(r) for r in agg_salted_skew(spark, SF_DIR).collect()}
    e = load_table(spark, SF_DIR, "events")
    want = {
        tuple(r)
        for r in e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
            F.round(F.avg("value"), 4).alias("avg_v"),
        )
        .collect()
    }
    assert got == want


def test_salted_agg_null_values(spark):
    """avg ignores NULLs: the decomposed avg must divide by the non-null
    count, not count(*). Regression for the sum/count(*) bug."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 20.0), ("b", 4, None)],
        "k string, id long, v double",
    )
    got = {r.k: (r.n, r.min_v, r.max_v, r.avg_v)
           for r in salted_agg(df, key="k", value="v", salt_on="id").collect()}
    # 'a': count(*)=3 but avg over the 2 non-null values = 15.0
    assert got["a"] == (3, 10.0, 20.0, 15.0)
    # 'b': all-null value -> avg/min/max NULL, n = 1
    assert got["b"] == (1, None, None, None)


def test_salted_join_matches_plain(spark):
    from mini_hadoop_spark.operators.skew import salted_join
    from mini_hadoop_spark.sources.catalog import load_table

    e = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "user_id")
    from pyspark.sql import functions as F

    dim = (
        load_table(spark, SF_DIR, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_tag", F.col("event_type") != "error")
    )
    got = salted_join(e, dim, key="event_type", salt_on="event_id")
    want = e.join(dim, "event_type")
    # Counter (multiset) compare: a set would miss compensating
    # multiplicity errors (row A duplicated + row B dropped).
    from collections import Counter

    g = Counter(tuple(r) for r in got.collect())
    w = Counter(tuple(r) for r in want.collect())
    assert g == w
