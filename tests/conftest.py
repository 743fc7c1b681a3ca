from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = "/root/testdata/sf0.01"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from mini_hadoop_spark.session import get_spark

    spark = get_spark("mini_hadoop_spark-tests")
    yield spark
    spark.stop()


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD the JVM currently holds persisted blocks for."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()))
    return ids


def checkpoint_rdd_id(df) -> int:
    """The id of the RDD behind a localCheckpoint'd frame's LogicalRDD."""
    plan = df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    return int(plan.rdd().id())


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's DuckDB side: tables pre-registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    """Canonicalize for order-insensitive comparison: sort columns by name,
    stringify values (floats at 9 sig-dig to absorb last-ulp noise), sort
    rows."""
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and pd.isna(v)):
                vals.append("<null>")
            elif pd.isna(v) if not isinstance(v, (list, tuple)) else False:
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(f"{v:.9g}")
            elif isinstance(v, (int,)):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows)


def _assert_dtype_symmetry(
    name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame
) -> None:
    """Fail when one side is integer-dtyped and the other float-dtyped for
    the same column.  The driver's canon distinguishes "3" from "3.0", but
    _canon's %.9g hides that difference — DuckDB returns HUGEINT for
    sum(<int>), which pandas renders as float64, so an oracle missing a
    ::BIGINT cast passes locally yet hash-fails at the driver (the r3/r5
    failure class; see VERDICT r5 'What's wrong' #1-2)."""
    for col in spark_pdf.columns:
        s_int = pd.api.types.is_integer_dtype(spark_pdf[col])
        o_int = pd.api.types.is_integer_dtype(oracle_pdf[col])
        s_flt = pd.api.types.is_float_dtype(spark_pdf[col])
        o_flt = pd.api.types.is_float_dtype(oracle_pdf[col])
        # A column that is all-NULL on one side may degrade to object/float;
        # only flag the unambiguous int-vs-float asymmetry.
        if (s_int and o_flt) or (s_flt and o_int):
            raise AssertionError(
                f"{name}: dtype asymmetry on column {col!r}: "
                f"spark={spark_pdf[col].dtype} oracle={oracle_pdf[col].dtype} "
                "— the driver canon will hash-fail this ('3' vs '3.0'). "
                "Likely a missing ::BIGINT cast on an integer sum() in the "
                "DuckDB oracle (see operators/relational.py module convention)."
            )


def assert_matches_oracle(spark, name: str, sf_dir: str = SF_DIR) -> None:
    """Run queries()[name] on Spark and oracle_sql()[name] on DuckDB over
    the same sf_dir; compare row counts, column names and canonical values
    — the same checks the driver applies."""
    import __spark_entry__ as entry_mod

    qdf = entry_mod.queries()[name](spark, sf_dir)
    spark_pdf = qdf.toPandas()
    con = duck_con(sf_dir)
    try:
        oracle_pdf = con.sql(entry_mod.oracle_sql()[name]).fetchdf()
    finally:
        con.close()

    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    _assert_dtype_symmetry(name, spark_pdf, oracle_pdf)
    s_rows, o_rows = _canon(spark_pdf), _canon(oracle_pdf)
    if s_rows != o_rows:
        diff_s = [r for r in s_rows if r not in set(o_rows)][:5]
        diff_o = [r for r in o_rows if r not in set(s_rows)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n  spark-only: {diff_s}\n  oracle-only: {diff_o}"
        )
