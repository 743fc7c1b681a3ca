"""Table catalog over the driver-provided parquet test data.

The reference's DFS (file → blocks → replicas, SURVEY.md §2.1 S1-S5) is
delegated entirely to the storage layer: Spark reads parquet splits with
locality, pushdown and column pruning via the DataSource V2 path.  Nothing
to reimplement — `table_path` + `spark.read.parquet` IS the scan operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from mini_hadoop_spark.session import build_once

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table as a DataFrame.

    SIDE EFFECT on the session: every call pins
    ``spark.sql.session.timeZone=UTC`` (and, for ``events`` stored with
    nanosecond timestamps, ``spark.sql.legacy.parquet.nanosAsLong=true``)
    as session-global runtime confs.  This is required by the driver contract — the
    external harness runs these queries on a vanilla session it built
    itself, so the confs the package needs MUST be set at runtime here —
    but it also changes timestamp rendering for any UNRELATED queries an
    external owner runs on the same session afterwards.  Callers
    embedding this package in a shared session should save/restore those
    confs if they depend on non-UTC rendering."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Runtime confs (NOT session-build confs): the external driver runs
    # these queries on a vanilla session it built itself, so every conf
    # the package NEEDS must be set here.  UTC pins timestamp rendering
    # (date_trunc/date_format/session_window): on a non-UTC host,
    # session-local rendering would shift every hour/session boundary
    # away from the DuckDB oracle, which treats the naive timestamps
    # as-is.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Memoize the UNEXECUTED DataFrame per (application, corpus, table):
    # building it costs ~80 ms (Spark re-lists the path and re-reads the
    # parquet footer on every spark.read.parquet), which a 200-query
    # benchmark pass pays hundreds of times for identical plans.  This
    # caches only the immutable plan object — no rows, no persisted
    # result; every action against it still computes from the parquet
    # input.  The nanos conf side effect (set inside _load_adaptive when
    # a nanos column is present) is session-global, so a memo hit
    # preserves it too.
    return build_once(
        spark, sf_dir, ("table", name), lambda: _load_adaptive(spark, table_path(sf_dir, name))
    )


def _load_adaptive(spark: SparkSession, path: str) -> DataFrame:
    """Load a parquet table, adapting EVERY timestamp column to whatever
    on-disk encoding the data generator used this round (the encoding of
    ``events.ts`` has already changed once between rounds; nothing says
    it is the last column to change).  Encodings handled, per column:

    - INT64 TIMESTAMP(NANOS): Spark's reader rejects this outright
      (PARQUET_TYPE_ILLEGAL) unless ``nanosAsLong`` is set, in which
      case the column reads as LongType nanos → truncate to micros with
      integer DIV, exactly like DuckDB reading the same file.
    - plain ``timestamp[us]``/``[ms]`` (no isAdjustedToUTC): reads as
      TIMESTAMP_NTZ → cast to session-zone timestamp (UTC is pinned by
      ``load_table``, so wall-clock values are preserved bit-for-bit).
    - UTC-adjusted timestamps: TimestampType → as-is.

    ``nanosAsLong`` is only set when the file actually contains a nanos
    column, so a session that never sees one never has the conf flipped."""
    encodings = _probe_encodings(spark, path)
    if any(enc == "nanos" for enc in encodings.values()):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col, enc in encodings.items():
        if enc != "ts":
            df = df.withColumn(col, normalize_ts_column(col, enc))
    return df


def _probe_encodings(spark: SparkSession, path: str) -> dict[str, str]:
    """Classify every timestamp-ish column of ``path``: ``"nanos"``
    (INT64 TIMESTAMP(NANOS) → LongType under nanosAsLong), ``"ntz"``
    (TIMESTAMP_NTZ), or ``"ts"`` (TimestampType, pass-through).

    Probes the parquet footer with pyarrow (a metadata-only read); falls
    back to a Spark schema read when pyarrow can't open the path (e.g. a
    non-local URI)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        out: dict[str, str] = {}
        first = _first_parquet_file(path)
        schema = pq.read_schema(first)
        # Physical types matter: legacy INT96 timestamps surface in the
        # ARROW schema as timestamp[ns] — indistinguishable from INT64
        # TIMESTAMP(NANOS) — but Spark reads INT96 natively as
        # TimestampType, where the nanosAsLong+DIV normalization would
        # fail analysis.  Classify INT96 columns as plain "ts".
        # A FAILED physical-type probe must be visible, not a silent
        # degrade: without physical types an INT96 column would be
        # classified "nanos" and the nanosAsLong normalization then fails
        # at ANALYSIS time — the exact class this probe exists to prevent.
        # pq.read_schema just succeeded on the same file, so only a truly
        # anomalous footer can fail here; surface it to stderr and let the
        # arrow-level classification proceed (INT96 is absent from every
        # known writer of this data; the message makes the residual risk
        # auditable instead of hidden).
        physical: dict[str, str] = {}
        try:
            pq_schema = pq.ParquetFile(first).schema
            for i in range(len(pq_schema)):
                col = pq_schema.column(i)
                physical[col.name] = col.physical_type
        except (OSError, pa.ArrowInvalid, pa.ArrowIOError) as exc:
            import sys

            print(
                f"catalog: physical-type probe failed for {first!r} ({exc}); "
                "INT96 detection unavailable — timestamp[ns] columns will be "
                "classified as INT64 TIMESTAMP(NANOS)",
                file=sys.stderr,
            )
        for field in schema:
            if pa.types.is_timestamp(field.type):
                if physical.get(field.name) == "INT96":
                    out[field.name] = "ts"
                elif field.type.unit == "ns" and field.type.tz is None:
                    out[field.name] = "nanos"
                elif field.type.tz is None:
                    out[field.name] = "ntz"
                else:
                    out[field.name] = "ts"
        return out
    except Exception:
        pass
    # Fallback: let Spark read the schema (setting nanosAsLong only if
    # the plain read fails with the nanos analysis error).
    try:
        df = spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    out = {}
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            out[field.name] = "ntz"
        elif isinstance(field.dataType, T.TimestampType):
            out[field.name] = "ts"
        # LongType is ambiguous in the fallback (no parquet logical-type
        # info): only the known nanos column is converted
        elif field.name == "ts" and isinstance(field.dataType, T.LongType):
            out[field.name] = "nanos"
    return out


def _first_parquet_file(path: str) -> str:
    """pyarrow needs a file, not a directory-of-parts; any part's footer
    carries the shared schema."""
    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            if entry.endswith(".parquet"):
                return os.path.join(path, entry)
    return path


def ts_encoding(spark: SparkSession, path: str, col: str = "ts") -> str:
    """Classify how ``path`` stores the timestamp column ``col`` (see
    ``_probe_encodings``).  Used by the streaming sources, which must
    commit to a fixed read schema up front and so probe the footer
    first — the generator has shipped INT64 TIMESTAMP(NANOS), NTZ and
    plain timestamp encodings in different rounds, and any consumer
    hard-coding one of them breaks on the next rotation."""
    return _probe_encodings(spark, path).get(col, "ts")


def normalize_ts_column(col: str, encoding: str):
    """Column expression converting a raw timestamp column in the given
    encoding to microsecond TimestampType (the driver/DuckDB view of the
    data).  Nanos truncate with integer DIV exactly like DuckDB reading
    the same file; NTZ values are wall-clock-preserved under the pinned
    UTC zone."""
    if encoding == "nanos":
        return F.timestamp_micros(F.expr(f"`{col}` DIV 1000"))
    if encoding == "ntz":
        return F.col(col).cast("timestamp")
    return F.col(col)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (mirrors the driver's DuckDB
    side, where the same names are pre-registered)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
