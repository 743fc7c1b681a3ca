"""Structured Streaming: watermarked tumbling-window aggregation over
the events stream, plus the incremental file-source plumbing.

The reference has NO streaming (SURVEY.md §2.3); this is extension
surface.  Design notes:

* Source: parquet file stream (``readStream``) — each newly-arriving
  file becomes a micro-batch; ``availableNow`` drains the backlog and
  stops, which is also how the tests drive it deterministically.
* Event time + watermark: ``ts`` with a 1-hour watermark bounds state:
  windows older than (max event time - 1h) are finalized and evicted,
  so state size is O(active windows), not O(stream length) — the thing
  that makes this viable on an unbounded 100 TB/day stream.
* The aggregation (tumbling 1h window x event_type, count + sum) is
  EXACTLY the batch query ``events_hourly_window`` in
  operators/events.py — the streaming plan is the incremental-
  maintenance version of that oracle-checked batch plan (same schema,
  same semantics on a closed input).
* Sink: append-mode memory sink in tests; parquet/Kafka in production
  (the sink choice is orthogonal to the plan).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from mini_hadoop_spark.session import build_once

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    A streaming source must commit to a fixed read schema up front, so
    the on-disk ``ts`` encoding (the data generator has shipped INT64
    TIMESTAMP(NANOS) in some rounds and plain ``timestamp[us]`` in
    others) is probed with a batch read of the same directory, then the
    matching raw type + normalization expression is applied — identical
    semantics to the batch catalog's ``load_table``."""
    from mini_hadoop_spark.sources.catalog import normalize_ts_column, ts_encoding

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    enc = ts_encoding(spark, events_dir, "ts")
    raw_ts_type = {
        "nanos": LongType(),
        "ntz": TimestampNTZType(),
        "ts": TimestampType(),
    }[enc]
    schema = StructType(
        [f if f.name != "ts" else StructField("ts", raw_ts_type) for f in EVENTS_STREAM_SCHEMA]
    )
    raw = spark.readStream.schema(schema).parquet(events_dir)
    return raw.withColumn("ts", normalize_ts_column("ts", enc))


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation: (window_start,
    event_type, n_events, total_value).  Works on a stream (incremental
    state with eviction) or a batch frame (plain window agg) — same
    plan shape as the oracle-checked events_hourly_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    table_name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> None:
    """Drain the stream with availableNow into an in-memory table —
    deterministic end-to-end execution for tests/demos.  ``complete``
    for watermarked aggregations (state emitted in full); ``append``
    for joins and pass-through plans.  Raises if the drain does not
    finish within ``timeout_sec`` (a partially-drained table would
    otherwise surface as a baffling downstream comparison failure)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream drain into {table_name!r} exceeded {timeout_sec}s")


#: Shuffle-partition count scoped around the registered drains.  Every
#: stateful streaming operator instantiates state stores (and a stream-
#: stream join FOUR of them) PER shuffle partition PER micro-batch; the
#: drains' input is ONE staged bounded file, so at the session default of
#: 32 partitions store setup dominated the wall clock (hourly drain at
#: sf0.1: 2.7 s at 32 partitions vs 1.0 s at 4, measured r8).  This is a
#: LOCAL-HARNESS setting only: a production stream over an unbounded
#: 100 TB/day source sizes state partitions to the cluster (the default),
#: which is why the scope restores the session value on exit.
STREAM_DRAIN_PARTITIONS = 4


#: _drain_scope is REFCOUNTED (r15): bench builds the ten drains
#: CONCURRENTLY, and a naive save/set/restore of a session conf from one
#: thread while another drain is mid-run corrupts that drain's capture
#: (measured: a concurrently-toggled noDataMicroBatches=false swallowed
#: the outer join's null-emission batch — wrong rows).  The first
#: enterer saves+sets, the last exiter restores, every enterer shares
#: the SAME target value, so any interleaving of drains sees a
#: consistent conf.  The former no_data_batches=False arm (skip the
#: trailing no-data micro-batch) is GONE: it was a per-query value and
#: therefore impossible to share; all of its call sites were
#: complete-mode or foreachBatch drains where the extra batch is
#: results-identical (its own docstring said so), so always-on costs
#: one cheap micro-batch per drain and removes the only conflicting
#: session toggle.
_drain_scope_lock = threading.Lock()
#: per-session refcount state keyed on the SparkSession OBJECT (ADVICE
#: r15: module-global scalars cross-talked between two concurrent
#: SparkSessions — an out-of-order exit left one session permanently
#: clamped to 4 partitions and restored its saved value into the other;
#: the object key also keeps newSession() clones — same applicationId,
#: separate SQLConf — independent); value = [depth, saved_conf_value].
#: Entries are removed when the last drain exits, so no session is
#: retained beyond its active drains.
_drain_scope_state: dict = {}


@contextlib.contextmanager
def _drain_scope(spark: SparkSession):
    """Scope shuffle.partitions down for a single-staged-file drain —
    concurrency-safe via PER-SESSION refcounting (see the notes above);
    always restored when the last concurrent drain in that session
    exits."""
    key = spark
    with _drain_scope_lock:
        st = _drain_scope_state.get(key)
        if st is None:
            st = _drain_scope_state[key] = [
                0,
                spark.conf.get("spark.sql.shuffle.partitions"),
            ]
            spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_DRAIN_PARTITIONS))
        st[0] += 1
    try:
        yield
    finally:
        with _drain_scope_lock:
            st = _drain_scope_state[key]
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set("spark.sql.shuffle.partitions", st[1])
                del _drain_scope_state[key]


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy(src, dst)


def _stage_parquet(src: str, dst_dir: str) -> None:
    """Stage a parquet source into ``dst_dir``: the source may be a
    single file (the driver's layout) or a directory of part files
    (e.g. the 10x scale-smoke corpus) — each part is hardlinked (copy
    cross-device) under a stable part-NNN name."""
    if os.path.isdir(src):
        parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        for j, f in enumerate(parts):
            _link_or_copy(os.path.join(src, f), os.path.join(dst_dir, f"part-{j:03d}.parquet"))
    else:
        _link_or_copy(src, os.path.join(dst_dir, "part-000.parquet"))


@contextlib.contextmanager
def _staged_file(sf_dir: str, table: str, prefix: str):
    """Stage one table's parquet into a fresh tmp dir (the file stream
    source requires a directory).  The dir is removed as soon as the
    drain completes, so callers must materialize results first."""
    from mini_hadoop_spark.sources.catalog import table_path

    src = table_path(sf_dir, table)
    stage = tempfile.mkdtemp(prefix=prefix)
    try:
        _stage_parquet(src, stage)
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _memo_drain(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """The drained result of ``build()``, materialized once per
    (session, corpus).  Every registered drain is a real end-to-end
    streaming run over a bounded staged input whose result is IMMUTABLE
    for a given corpus — rerunning the identical drain per bench pass /
    per driver call re-pays state-store setup for the same rows.  Like
    the index artifacts, the one-time run is itemized by bench.py
    (stream_* in index_build) instead of buried in whichever caller goes
    first."""

    def checkpointed() -> DataFrame:
        df = build()
        # builds that must materialize BEFORE their scratch dir is
        # removed return an already-checkpointed frame (LogicalRDD);
        # re-checkpointing would pin a second full copy of the result
        # for the session lifetime (r16 code review: the PIT drain's
        # report is per-fact, the largest drain output in the suite)
        try:
            already = (
                df._jdf.queryExecution().analyzed().getClass().getSimpleName()
                == "LogicalRDD"
            )
        except Exception:
            already = False
        return df if already else df.localCheckpoint(eager=True)

    return build_once(spark, sf_dir, ("drain", name), checkpointed)


def streaming_hourly_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query: run the watermarked hourly window
    aggregation END-TO-END through the streaming engine (file source →
    incremental state → availableNow drain) and return the final
    result — so the external driver verifies the STREAMING path against
    the same DuckDB oracle as the batch twin (events_hourly_window),
    not just our in-repo parity tests.

    The driver ships events as a single parquet file and Spark's file
    stream source requires a directory, so the file is HARDLINKED (no
    data copy; falls back to a real copy cross-device) into a per-call
    tmp dir.  The memory-sink table name is unique per call; 'complete'
    mode emits the full final state, which for a drained bounded input
    equals the batch aggregation exactly.  r10: the run is memoized per
    (session, corpus) like the join/IVF drains."""

    def build() -> DataFrame:
        import uuid

        table = f"stream_hourly_{uuid.uuid4().hex[:8]}"
        with _staged_file(sf_dir, "events", "stream_hourly_") as stage, _drain_scope(spark):
            run_stream_to_memory(windowed_event_counts(read_events_stream(spark, stage)), table)
        return spark.table(table).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )

    return _memo_drain(spark, sf_dir, "hourly", build)


def streaming_session_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #2: the SESSION-WINDOW sessionization
    run end-to-end through the streaming engine (file source →
    session_window state → availableNow drain), verified against the
    batch twin's oracle (events_session_window).  Together with the
    hourly drain this puts both streaming state shapes Spark maintains
    natively — tumbling windows and merging session windows — inside
    the driver's oracle gate, not just the in-repo parity tests.
    Memoized per (session, corpus) — see _memo_drain."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.streaming.stateful import streaming_sessionization

        table = f"stream_session_{uuid.uuid4().hex[:8]}"
        with _staged_file(sf_dir, "events", "stream_session_") as stage, _drain_scope(spark):
            run_stream_to_memory(
                streaming_sessionization(read_events_stream(spark, stage)), table
            )
        return spark.table(table).select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "duration_sec",
        )

    return _memo_drain(spark, sf_dir, "session", build)


def streaming_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #3: the foreachBatch-maintained
    persistent dedup fingerprint index run END-TO-END (file source →
    per-batch in-batch dedup + anti-join against the on-disk index →
    parquet append → availableNow drain), then the final index read
    back.  The whole documents table arrives as ONE availableNow batch
    (single staged file), so the drained index equals the batch
    ``dedup_exact`` output exactly — which is precisely what the shared
    DuckDB oracle asserts.  This puts the third streaming state shape —
    foreachBatch read-modify-append maintenance — inside the driver's
    oracle gate, alongside tumbling windows and merging session windows
    (multi-batch incremental semantics are pinned by
    tests/test_streaming.py).  Memoized per (session, corpus)."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.sources.catalog import table_path
        from mini_hadoop_spark.streaming.index_maintenance import (
            read_index,
            run_incremental_dedup_index,
        )

        src = table_path(sf_dir, "documents")
        root = tempfile.mkdtemp(prefix="stream_dedup_")
        try:
            docs_dir = os.path.join(root, "docs")
            os.makedirs(docs_dir)
            _stage_parquet(src, docs_dir)
            index_dir = os.path.join(root, "index")
            ckpt_dir = os.path.join(root, f"ckpt_{uuid.uuid4().hex[:8]}")
            with _drain_scope(spark):
                # a trailing no-data batch would run one empty
                # read-modify-append cycle against the on-disk index — a
                # wasted parquet commit, identical final index
                run_incremental_dedup_index(spark, docs_dir, index_dir, ckpt_dir)
            # materialize before the staging tree is removed
            return (
                read_index(spark, index_dir)
                .select(
                    "content_hash",
                    "keep_doc_id",
                    F.col("n_batch_copies").alias("n_copies"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return _memo_drain(spark, sf_dir, "dedup", build)


def streaming_contamination_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #9: eval-set DECONTAMINATION at
    ingest, run END-TO-END (file source → per-batch shingle explode →
    broadcast join against the STATIC frozen eval 5-gram index →
    parquet-append report → availableNow drain), then the accumulated
    report read back.  This is where a production pipeline actually
    runs the contamination check — on every newly crawled shard as it
    lands, not as a batch sweep — and it composes exactly because every
    measure is doc-local (a train document's distinct-shingle count and
    per-eval overlap depend on that one row only), so the union of
    per-batch reports equals the batch ``contamination_ngram`` under
    ANY sharding.  The whole documents table arrives as ONE
    availableNow batch here, so the drained report hash-matches the
    same DuckDB oracle (CONTAMINATION_SQL); multi-batch equality is
    pinned by tests/test_streaming.py.  Memoized per (session,
    corpus)."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.functions.text import shingles, tokens
        from mini_hadoop_spark.operators.dedup import CONTAM_EVAL_MODULUS, CONTAM_K
        from mini_hadoop_spark.sources.catalog import load_table, table_path
        from mini_hadoop_spark.streaming.index_maintenance import (
            run_streaming_contamination,
        )

        src = table_path(sf_dir, "documents")
        # the frozen benchmark suite: built ONCE from the eval subset and
        # broadcast into every micro-batch (production ships this as a
        # versioned artifact next to the eval sets themselves)
        eval_sh = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % CONTAM_EVAL_MODULUS == 0)
            .select(F.col("doc_id").alias("eval_doc_id"), tokens("text").alias("t"))
            .select("eval_doc_id", F.explode(shingles("t", CONTAM_K)).alias("shingle"))
            .localCheckpoint(eager=True)
        )
        root = tempfile.mkdtemp(prefix="stream_contam_")
        try:
            docs_dir = os.path.join(root, "docs")
            os.makedirs(docs_dir)
            _stage_parquet(src, docs_dir)
            report_dir = os.path.join(root, "report")
            ckpt_dir = os.path.join(root, f"ckpt_{uuid.uuid4().hex[:8]}")
            with _drain_scope(spark):
                run_streaming_contamination(
                    spark, docs_dir, eval_sh, report_dir, ckpt_dir
                )
            return spark.read.parquet(report_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return _memo_drain(spark, sf_dir, "contamination", build)


def streaming_classifier_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #10: quality SCORING at ingest with
    the distilled classifier, run END-TO-END (train the mini-batch
    perceptron OFFLINE via the memoized `_train` — the same model the
    batch queries report on — then file source → per-batch doc-local
    scoring under the FROZEN weight vector → parquet-append →
    availableNow drain), then the accumulated per-doc score table read
    back.  This closes the distillation lifecycle train → evaluate →
    SERVE: production scores every newly crawled shard as it lands,
    with the model shipped as a constant, exactly this shape.  Scoring
    is doc-local, so the per-batch union equals the batch scoring under
    ANY sharding, and the drained table hash-matches the same DuckDB
    oracle (CLASSIFIER_SCORES_SQL — the me{T} projection of the
    unrolled training chain); multi-shard equality is pinned by
    tests/test_streaming.py.  Memoized per (session, corpus)."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.operators.classifier import _train
        from mini_hadoop_spark.sources.catalog import table_path
        from mini_hadoop_spark.streaming.index_maintenance import (
            run_streaming_classifier_scores,
        )

        _, w = _train(spark, sf_dir)  # offline training, memoized
        src = table_path(sf_dir, "documents")
        root = tempfile.mkdtemp(prefix="stream_classify_")
        try:
            docs_dir = os.path.join(root, "docs")
            os.makedirs(docs_dir)
            _stage_parquet(src, docs_dir)
            report_dir = os.path.join(root, "report")
            ckpt_dir = os.path.join(root, f"ckpt_{uuid.uuid4().hex[:8]}")
            with _drain_scope(spark):
                run_streaming_classifier_scores(
                    spark, docs_dir, w, report_dir, ckpt_dir
                )
            return spark.read.parquet(report_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return _memo_drain(spark, sf_dir, "classifier_scores", build)


def streaming_pit_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #11: POINT-IN-TIME enrichment at
    ingest, end-to-end — the streaming consumer of the r16 PIT family
    (operators/relational_ext.py::pit_scd2_shipments is the batch
    report over the same intervals).  The SCD2 dimension and the
    orderkey→custkey map are built OFFLINE and frozen; every landed
    shipment-fact shard is as-of stamped with the customer version
    valid at its ship date (``valid_from <= ts < valid_to`` — never a
    future version, the feature-store no-leakage contract) and
    parquet-appended.  Enrichment is FACT-LOCAL, so the per-shard
    union equals batch enrichment under any sharding and the drained
    table hash-matches the per-fact interval-join oracle
    (STREAMING_PIT_SQL); multi-shard equality is pinned by
    tests/test_streaming.py.  Memoized per (session, corpus)."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.operators.relational_ext import _scd2_intervals
        from mini_hadoop_spark.sources.catalog import load_table, table_path
        from mini_hadoop_spark.streaming.index_maintenance import (
            run_streaming_pit_enrich,
        )

        order_keys = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey")
            .localCheckpoint(eager=True)
        )
        versions = (
            _scd2_intervals(spark, sf_dir)
            .select("custkey", "valid_from", "version", "is_current")
            .localCheckpoint(eager=True)
        )
        src = table_path(sf_dir, "lineitem")
        root = tempfile.mkdtemp(prefix="stream_pit_")
        try:
            facts_dir = os.path.join(root, "facts")
            os.makedirs(facts_dir)
            _stage_parquet(src, facts_dir)
            report_dir = os.path.join(root, "report")
            ckpt_dir = os.path.join(root, f"ckpt_{uuid.uuid4().hex[:8]}")
            with _drain_scope(spark):
                run_streaming_pit_enrich(
                    spark, facts_dir, order_keys, versions, report_dir, ckpt_dir
                )
            return spark.read.parquet(report_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return _memo_drain(spark, sf_dir, "pit_enrich", build)


def _streaming_pit_sql() -> str:
    """Per-fact interval-join oracle — composes the SAME v/f CTEs as
    the batch report oracle (operators/relational_ext.py::
    PIT_INTERVAL_CTES), so the drain and the batch query stay
    bit-in-sync by construction; the drain casts the exact DECIMAL
    revenue to double PER FACT (the batch aggregate casts the sum)."""
    from mini_hadoop_spark.operators.relational_ext import PIT_INTERVAL_CTES

    return f"""
WITH {PIT_INTERVAL_CTES}
SELECT f.orderkey, f.linenumber, f.custkey,
       strftime(f.ship_ts, '%Y-%m-%d') AS ship_date,
       v.version,
       CASE WHEN v.version IS NULL THEN NULL
            ELSE v.valid_to IS NULL END AS is_current,
       CAST(f.rev AS DOUBLE) AS rev
FROM f LEFT JOIN v
  ON f.custkey = v.custkey
 AND v.valid_from <= f.ship_ts
 AND (f.ship_ts < v.valid_to OR v.valid_to IS NULL)
"""


STREAMING_PIT_SQL = _streaming_pit_sql()


# The drained LEFT OUTER interval-join result is materialized once per
# (session, corpus).  The outer drain's matched-pair rows
# ARE the inner join result (a left-outer interval join emits matched
# pairs identically to the inner form — same gap, same 1h watermark;
# the outer adds only watermark-expired null rows), so ONE end-to-end
# streaming run serves both registered join drains: the VERDICT r8 #4
# "reuse one streaming query where the oracle allows" trim.  Both
# oracles stay the independent batch SQL forms — the shared run must
# satisfy each exactly.


def _outer_join_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the left-outer interval-join drain END-TO-END once per
    (session, sf_dir); return the materialized raw-column result."""
    import uuid

    from mini_hadoop_spark.streaming.joins import clicks_with_errors_outer

    def build() -> DataFrame:
        table = f"stream_ojoin_{uuid.uuid4().hex[:8]}"
        with _staged_file(sf_dir, "events", "stream_ojoin_") as stage, _drain_scope(spark):
            run_stream_to_memory(
                clicks_with_errors_outer(read_events_stream(spark, stage)),
                table,
                output_mode="append",
            )
        return spark.table(table).localCheckpoint(eager=True)

    return build_once(spark, sf_dir, "outer_join_drain", build)


def _format_join_result(df: DataFrame) -> DataFrame:
    return df.select(
        "user_id",
        "click_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "error_id",
        F.date_format("error_ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
    )


def streaming_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #4: the watermarked INTERVAL
    stream-stream self-join (clicks_with_errors — every click paired
    with the same user's errors in the following 30 minutes) run
    END-TO-END through the streaming engine: file source → two filtered
    branches → symmetric join state bounded by watermark + time-range →
    availableNow drain, 'append' mode (joins emit rows as they
    finalize, not windowed state).  With the hourly (window state),
    session (session state) and dedup (foreachBatch index) drains this
    puts the FOURTH streaming state shape Spark maintains — join
    buffers — inside the driver's oracle gate; the oracle is the plain
    batch interval-join SQL, which a drained bounded input must equal
    exactly.  Timestamps are emitted as formatted strings so both
    engines canonicalize identically.

    r9: served by the SHARED outer-join drain (one real end-to-end
    streaming run per session) restricted to its matched rows — exact
    by construction, and the independent inner-join oracle still gates
    it.  A stream-stream join instantiates FOUR state stores per
    shuffle partition per micro-batch, so the shared run keeps
    _drain_scope."""
    return _format_join_result(
        _outer_join_drained(spark, sf_dir).filter(F.col("error_id").isNotNull())
    )


def streaming_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #5: stream-STATIC broadcast enrichment
    + global aggregation, end-to-end — every event joins its user's
    customer market segment (the static dimension broadcasts per
    micro-batch, the stream itself is never shuffled by the join), then
    a complete-mode aggregate rolls up (segment, event_type) counts and
    value sums.  Exercises the remaining streaming shape the other four
    drains don't: a batch-side build in a streaming plan + un-windowed
    aggregation state.  The oracle is the plain batch join+group SQL —
    a drained bounded input must match it exactly.  Memoized per
    (session, corpus) — see _memo_drain."""

    def build() -> DataFrame:
        import uuid

        from mini_hadoop_spark.sources.catalog import load_table
        from mini_hadoop_spark.streaming.joins import stream_static_enrich

        table = f"stream_enrich_{uuid.uuid4().hex[:8]}"
        with _staged_file(sf_dir, "events", "stream_enrich_") as stage, _drain_scope(spark):
            dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            enriched = stream_static_enrich(
                read_events_stream(spark, stage), dim, "user_id", "c_custkey", how="inner"
            )
            # Fixed-point discipline: sum floor(value*1e4 + 0.5) as integers
            # (order-independent, exact), divide once at the end — a raw
            # double sum is summation-order-dependent (stream partial aggs vs
            # DuckDB's order) and these un-windowed (segment, type) groups
            # are large enough to drift within an ulp of a round boundary.
            agg = enriched.groupBy("c_mktsegment", "event_type").agg(
                F.count("*").alias("n_events"),
                F.sum(F.floor(F.col("value") * F.lit(1e4) + F.lit(0.5)).cast("long")).alias(
                    "tv_fp"
                ),
            )
            run_stream_to_memory(agg, table, output_mode="complete")
        return spark.table(table).select(
            F.col("c_mktsegment").alias("mktsegment"),
            "event_type",
            "n_events",
            (F.col("tv_fp").cast("double") / F.lit(1e4)).alias("total_value"),
        )

    return _memo_drain(spark, sf_dir, "enrich", build)


def streaming_outer_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #6: the watermarked LEFT OUTER
    interval stream-stream join run END-TO-END — matched (click, error)
    pairs emit as they finalize, and clicks whose match window the
    WATERMARK has expired emit one null-error row (the state-eviction
    path the inner join_drain never exercises).  The oracle is the batch
    left join restricted exactly as streaming semantics dictate: null
    rows only for unmatched clicks older than
    min(max click_ts, max error_ts) − watermark − gap — the global
    watermark is the MIN over the two branch watermark operators, and
    newer clicks are still buffered when a bounded drain ends, so they
    emit nothing.  r9: the end-to-end run is the shared memoized
    _outer_join_drained (also serving streaming_join_drain)."""
    return _format_join_result(_outer_join_drained(spark, sf_dir))


# ONE end-to-end IVF streaming lifecycle run serves BOTH registered IVF
# drains — maintenance (the PRE-recenter accumulated index) and recenter
# (the POST-swap index): the same shared-run trim as the join drains.
# Both oracles stay independent batch SQL forms the shared run must
# satisfy exactly (lists CTE / the recenter-apply chain).


def _ivf_stream_drained(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Run the IVF ingest lifecycle END-TO-END once per (session,
    sf_dir): drain the staged embedding shards through foreachBatch
    maintenance, snapshot the accumulated index, then apply the offline
    recenter+swap (``recenter_ivf_index``) and snapshot again.  Returns
    (pre_recenter_index, post_recenter_index), both materialized."""
    import uuid

    from mini_hadoop_spark.operators.similarity import ivf_quantizer
    from mini_hadoop_spark.sources.catalog import table_path
    from mini_hadoop_spark.streaming.ivf_maintenance import (
        read_ivf_index,
        recenter_ivf_index,
        run_incremental_ivf_index,
    )

    def build() -> tuple[DataFrame, DataFrame]:
        centroids = ivf_quantizer(spark, sf_dir)
        src = table_path(sf_dir, "embeddings")
        root = tempfile.mkdtemp(prefix="stream_ivf_")
        try:
            emb_dir = os.path.join(root, "emb")
            os.makedirs(emb_dir)
            _stage_parquet(src, emb_dir)
            index_dir = os.path.join(root, "index")
            ckpt_dir = os.path.join(root, f"ckpt_{uuid.uuid4().hex[:8]}")
            with _drain_scope(spark):
                run_incremental_ivf_index(spark, emb_dir, centroids, index_dir, ckpt_dir)
            # materialize each snapshot before the staging tree is removed
            pre = read_ivf_index(spark, index_dir).localCheckpoint(eager=True)
            recenter_ivf_index(spark, emb_dir, index_dir)
            post = read_ivf_index(spark, index_dir).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return (pre, post)

    return build_once(spark, sf_dir, "ivf_stream_drain", build)


def streaming_ivf_maintenance_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #7 (r9): incremental IVF inverted-list
    maintenance run END-TO-END — the production vector-ingest loop.  The
    coarse quantizer is trained OFFLINE and frozen (the memoized
    ivf_quantizer — production retrains it out-of-band because a new
    quantizer invalidates every list assignment); the embedding shards
    then drain through foreachBatch: assign each new vector to its
    nearest frozen centroid (broadcast argmax — the batch build's exact
    `_assign`), anti-join on vec_id against the on-disk index (replay
    idempotence), append.  The drained index read back equals the batch
    ``ivf_lists`` assignment exactly, so the oracle is the shared
    _ivf_ctes chain's ``lists`` CTE — the 7th streaming state shape
    (model-frozen online index maintenance) inside the driver's oracle
    gate.  Multi-batch incremental semantics and replay idempotence are
    pinned by tests/test_streaming.py.  r10: serves the PRE-recenter
    snapshot of the shared lifecycle run (_ivf_stream_drained)."""
    return _ivf_stream_drained(spark, sf_dir)[0]


def streaming_ivf_recenter_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED streaming query #8 (r10): the IVF lifecycle CLOSED —
    after the maintenance drain accumulates the index, the offline
    RECENTER+REBUILD (`streaming/ivf_maintenance.py::recenter_ivf_index`,
    the pass the drift audit `ivf_recenter_audit` gates) recomputes every
    centroid as the fixed-point mean of its accumulated list, reassigns
    every indexed vector, and swaps the on-disk index.  Returns the
    post-swap index (vec_id, cid), which equals the batch
    ``ivf_recenter_apply``'s (vec_id, cid_after) EXACTLY — so the oracle
    is the recenter-apply chain projected to the index schema, and the
    full ingest→maintain→audit→recenter loop sits inside the driver's
    oracle gate end-to-end."""
    return _ivf_stream_drained(spark, sf_dir)[1]


QUERIES = {
    "streaming_hourly_drain": streaming_hourly_drain,
    "streaming_session_drain": streaming_session_drain,
    "streaming_dedup_drain": streaming_dedup_drain,
    "streaming_contamination_drain": streaming_contamination_drain,
    "streaming_classifier_drain": streaming_classifier_drain,
    "streaming_join_drain": streaming_join_drain,
    "streaming_enrich_drain": streaming_enrich_drain,
    "streaming_outer_join_drain": streaming_outer_join_drain,
    "streaming_ivf_maintenance_drain": streaming_ivf_maintenance_drain,
    "streaming_ivf_recenter_drain": streaming_ivf_recenter_drain,
    "streaming_pit_enrich_drain": streaming_pit_enrich_drain,
}


def _hourly_oracle() -> str:
    from mini_hadoop_spark.operators.events import EVENTS_HOURLY_SQL

    return EVENTS_HOURLY_SQL


def _session_oracle() -> str:
    from mini_hadoop_spark.operators.events import EVENTS_SESSION_WINDOW_SQL

    return EVENTS_SESSION_WINDOW_SQL


def _dedup_oracle() -> str:
    from mini_hadoop_spark.operators.dedup import DEDUP_EXACT_SQL

    return DEDUP_EXACT_SQL


def _contamination_oracle() -> str:
    from mini_hadoop_spark.operators.dedup import CONTAMINATION_SQL

    return CONTAMINATION_SQL


def _join_oracle() -> str:
    from mini_hadoop_spark.streaming.joins import CLICK_ERROR_GAP_SEC

    return f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), errors AS (
  SELECT user_id, event_id AS error_id, ts AS error_ts
  FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.click_id,
       strftime(c.click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       e.error_id,
       strftime(e.error_ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM clicks c
JOIN errors e
  ON c.user_id = e.user_id
 AND e.error_ts >= c.click_ts
 AND e.error_ts <= c.click_ts + INTERVAL {CLICK_ERROR_GAP_SEC} SECONDS
"""


STREAMING_ENRICH_SQL = """
SELECT c.c_mktsegment AS mktsegment, e.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(e.value * 1e4 + 0.5) AS BIGINT)) AS BIGINT) / 1e4 AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def _outer_join_oracle() -> str:
    from mini_hadoop_spark.streaming.joins import CLICK_ERROR_GAP_SEC, JOIN_WATERMARK_SEC

    horizon = JOIN_WATERMARK_SEC + CLICK_ERROR_GAP_SEC
    return f"""
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), errors AS (
  SELECT user_id, event_id AS error_id, ts AS error_ts
  FROM events WHERE event_type = 'error'
), mx AS (
  -- the engine's global watermark is the MIN over the two branch
  -- watermark operators, each tracking its OWN branch's max event time.
  -- If EITHER branch saw no rows its watermark never advances past the
  -- epoch and no state expires — least() alone would skip the NULL and
  -- wrongly emit null rows, so an empty branch forces wm_base NULL
  -- (every comparison below then filters false: zero expired rows,
  -- exactly the engine's behavior).
  SELECT CASE WHEN max(ts) FILTER (WHERE event_type = 'click') IS NULL
            OR max(ts) FILTER (WHERE event_type = 'error') IS NULL
          THEN NULL
          ELSE least(max(ts) FILTER (WHERE event_type = 'click'),
                     max(ts) FILTER (WHERE event_type = 'error')) END AS wm_base
  FROM events
), pairs AS (
  SELECT c.user_id, c.click_id, c.click_ts, e.error_id, e.error_ts
  FROM clicks c
  JOIN errors e
    ON c.user_id = e.user_id
   AND e.error_ts >= c.click_ts
   AND e.error_ts <= c.click_ts + INTERVAL {CLICK_ERROR_GAP_SEC} SECONDS
), expired_unmatched AS (
  -- streaming null emission: only clicks whose match window the final
  -- watermark (wm_base - {JOIN_WATERMARK_SEC}s) has fully passed
  SELECT c.user_id, c.click_id, c.click_ts,
         NULL::BIGINT AS error_id, NULL::TIMESTAMP AS error_ts
  FROM clicks c, mx
  WHERE NOT EXISTS (
          SELECT 1 FROM errors e
          WHERE e.user_id = c.user_id
            AND e.error_ts >= c.click_ts
            AND e.error_ts <= c.click_ts + INTERVAL {CLICK_ERROR_GAP_SEC} SECONDS)
    AND c.click_ts < wm_base - INTERVAL {horizon} SECONDS
)
SELECT user_id, click_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       error_id,
       strftime(error_ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM pairs
UNION ALL
SELECT user_id, click_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       error_id,
       strftime(error_ts, '%Y-%m-%d %H:%M:%S') AS error_ts
FROM expired_unmatched
"""


def _classifier_drain_oracle() -> str:
    from mini_hadoop_spark.operators.classifier import CLASSIFIER_SCORES_SQL

    return CLASSIFIER_SCORES_SQL


def _ivf_maint_oracle() -> str:
    from mini_hadoop_spark.operators.similarity import _ivf_ctes

    return f"WITH {_ivf_ctes()}\nSELECT vec_id, cid FROM lists"


def _ivf_recenter_drain_oracle() -> str:
    # the batch recenter-apply chain projected to the index schema: the
    # post-swap streaming index must equal (vec_id, cid_after) exactly
    from mini_hadoop_spark.operators.similarity import IVF_RECENTER_APPLY_SQL

    return (
        "SELECT vec_id, cid_after AS cid FROM (\n"
        + IVF_RECENTER_APPLY_SQL
        + "\n)"
    )


ORACLES = {
    # the batch twins' oracles verbatim: each streaming drain must land
    # on the identical rows
    "streaming_hourly_drain": _hourly_oracle(),
    "streaming_session_drain": _session_oracle(),
    "streaming_dedup_drain": _dedup_oracle(),
    "streaming_contamination_drain": _contamination_oracle(),
    "streaming_classifier_drain": _classifier_drain_oracle(),
    "streaming_join_drain": _join_oracle(),
    "streaming_enrich_drain": STREAMING_ENRICH_SQL,
    "streaming_outer_join_drain": _outer_join_oracle(),
    "streaming_ivf_maintenance_drain": _ivf_maint_oracle(),
    "streaming_ivf_recenter_drain": _ivf_recenter_drain_oracle(),
    "streaming_pit_enrich_drain": STREAMING_PIT_SQL,
}
