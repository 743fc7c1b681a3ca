"""Structured Streaming tests: the watermarked windowed aggregation
must, after draining a closed input with availableNow, produce exactly
the batch windowed aggregation over the same events (stream-batch
consistency — the property that makes the streaming operator
trustworthy as an incremental view of the oracle-checked batch query).
"""

from __future__ import annotations

import shutil
import uuid

import pytest

from tests.conftest import SF_DIR


@pytest.fixture
def events_dir(tmp_path):
    """readStream needs a directory of parquet files; the driver ships a
    single file — stage it into a tmp dir (two copies = two files, to
    exercise multi-file listing; dedup by event_id is NOT expected:
    counts simply double)."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_matches_batch_window_agg(spark, events_dir):
    from pyspark.sql import functions as F

    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.windowed import (
        read_events_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    table = f"stream_out_{uuid.uuid4().hex[:8]}"
    stream = windowed_event_counts(read_events_stream(spark, events_dir))
    run_stream_to_memory(stream, table)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table(table).collect()
    }

    batch = windowed_event_counts(load_table(spark, SF_DIR, "events"))
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want
    assert got, "stream should emit at least one window"


def test_stream_incremental_two_batches(spark, tmp_path):
    """Adding a second file and re-draining must fold the new rows into
    the same windows (incremental maintenance, not recompute-and-differ)."""
    from mini_hadoop_spark.streaming.windowed import (
        read_events_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    d = tmp_path / "events_inc"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "a.parquet")

    t1 = f"inc1_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(windowed_event_counts(read_events_stream(spark, str(d))), t1)
    n1 = {(r.window_start, r.event_type): r.n_events for r in spark.table(t1).collect()}

    shutil.copy(f"{SF_DIR}/events.parquet", d / "b.parquet")
    t2 = f"inc2_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(windowed_event_counts(read_events_stream(spark, str(d))), t2)
    n2 = {(r.window_start, r.event_type): r.n_events for r in spark.table(t2).collect()}

    assert set(n1) == set(n2)
    for k in n1:
        assert n2[k] == 2 * n1[k]


def test_streaming_sessionization_matches_batch(spark, events_dir):
    """Draining the closed events input through session_window must yield
    the same per-user session stats as the oracle-checked batch
    gaps-and-islands query (sessions keyed by start time instead of seq)."""
    import uuid

    from mini_hadoop_spark.operators.events import events_sessionization
    from mini_hadoop_spark.streaming.stateful import streaming_sessionization
    from mini_hadoop_spark.streaming.windowed import read_events_stream, run_stream_to_memory

    table = f"sess_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(streaming_sessionization(read_events_stream(spark, events_dir)), table)
    got = {
        (r.user_id, r.n_events, r.duration_sec)
        for r in spark.table(table).collect()
    }
    want = {
        (r.user_id, r.n_events, r.duration_sec)
        for r in events_sessionization(spark, SF_DIR).collect()
    }
    assert got == want
    assert got


def test_stream_interval_join_matches_batch(spark, events_dir):
    """Draining the closed events input through the stream-stream
    interval join must produce exactly the pairs of the batch twin
    (same filter branches, plain range join on batch frames).
    Multiset compare: duplicate emission by the stream side must fail."""
    import uuid
    from collections import Counter

    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.joins import clicks_with_errors
    from mini_hadoop_spark.streaming.windowed import read_events_stream, run_stream_to_memory

    table = f"ssj_{uuid.uuid4().hex[:8]}"
    out = clicks_with_errors(read_events_stream(spark, events_dir))
    run_stream_to_memory(out, table, output_mode="append")
    got = Counter((r.click_id, r.error_id) for r in spark.table(table).collect())

    want = Counter(
        (r.click_id, r.error_id)
        for r in clicks_with_errors(load_table(spark, SF_DIR, "events")).collect()
    )
    assert got == want
    assert got, "expected at least one click→error pair in the test data"


def test_stream_interval_join_cross_batch(spark, tmp_path):
    """The join must match rows ACROSS micro-batches: a click buffered in
    batch-1 state pairs with an error arriving in batch 2 (the semantics
    that distinguish the streaming join from a per-batch join)."""
    import pandas as pd

    from mini_hadoop_spark.streaming.joins import clicks_with_errors
    from mini_hadoop_spark.streaming.windowed import EVENTS_STREAM_SCHEMA

    d = tmp_path / "ssj_stream"
    d.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / name))

    sink = str(tmp_path / "ssj_out")
    ckpt = str(tmp_path / "ssj_ckpt")

    def drain():
        src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(d / "*"))
        q = (
            clicks_with_errors(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "drain timed out"
        from collections import Counter

        return Counter(
            (r.click_id, r.error_id) for r in spark.read.parquet(sink).collect()
        )

    # batch 1: click c1, an in-gap error e11, and an out-of-order error
    # before the click (no pair)
    write_batch(
        "b1",
        [
            (100, "2026-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (110, "2026-01-01 10:05:00", 1, "error", 1.0, "{}"),
            (111, "2026-01-01 09:50:00", 1, "error", 1.0, "{}"),
        ],
    )
    pairs1 = drain()
    assert pairs1 == {(100, 110): 1}

    # batch 2: error e12 pairs with the batch-1 click (cross-batch state);
    # a new click c2 + in-gap error e21 pair within the batch; e13 is
    # past c1's 30-minute gap (and before c2) — no pair
    write_batch(
        "b2",
        [
            (112, "2026-01-01 10:10:00", 1, "error", 1.0, "{}"),
            (200, "2026-01-01 10:45:00", 2, "click", 1.0, "{}"),
            (210, "2026-01-01 10:50:00", 2, "error", 1.0, "{}"),
            (113, "2026-01-01 10:31:00", 1, "error", 1.0, "{}"),
        ],
    )
    pairs2 = drain()
    assert pairs2 == {(100, 110): 1, (100, 112): 1, (200, 210): 1}


def test_stream_interval_join_boundaries(spark, tmp_path):
    """Planted pairs: equal-ts in, exactly-gap in, gap+1s out, before
    the click out, other-user out — batch mode (the operator is the
    same code path modulo watermarks)."""
    import pandas as pd

    from mini_hadoop_spark.streaming.joins import stream_interval_join
    from mini_hadoop_spark.streaming.windowed import EVENTS_STREAM_SCHEMA

    def frame(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return spark.createDataFrame(pdf, schema=EVENTS_STREAM_SCHEMA)

    from pyspark.sql import functions as F

    clicks = frame([(1, "2026-01-01 10:00:30", 7, "click", 1.0, "{}")]).select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    errors = frame(
        [
            (10, "2026-01-01 10:00:30", 7, "error", 1.0, "{}"),  # equal ts -> in
            (11, "2026-01-01 10:01:30", 7, "error", 1.0, "{}"),  # exactly gap -> in
            (12, "2026-01-01 10:01:31", 7, "error", 1.0, "{}"),  # gap+1s -> out
            (13, "2026-01-01 10:00:29", 7, "error", 1.0, "{}"),  # before -> out
            (14, "2026-01-01 10:00:40", 8, "error", 1.0, "{}"),  # other user -> out
        ]
    ).select("user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts"))

    out = stream_interval_join(
        clicks, errors, key="user_id", left_ts="click_ts", right_ts="error_ts", max_gap_sec=60
    )
    assert sorted(r.error_id for r in out.collect()) == [10, 11]


@pytest.fixture
def docs_dir(tmp_path):
    d = tmp_path / "docs_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_redact_matches_batch(spark, docs_dir):
    """Incremental PII redaction over a staged documents directory must
    equal the batch operator on the same data (shared expression
    builder — this is the no-drift guarantee under test)."""
    from mini_hadoop_spark.operators.text_analysis import redact_pii_frame
    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.documents import (
        read_documents_stream,
        streaming_redact_pii,
    )
    from mini_hadoop_spark.streaming.windowed import run_stream_to_memory

    table = f"docs_red_{uuid.uuid4().hex[:8]}"
    stream = streaming_redact_pii(read_documents_stream(spark, docs_dir)).drop("redacted_text")
    run_stream_to_memory(stream, table, output_mode="append")
    got = {r.doc_id: (r.n_emails, r.n_urls, r.n_numbers, r.redacted_hash)
           for r in spark.table(table).collect()}

    batch = redact_pii_frame(load_table(spark, SF_DIR, "documents")).drop("redacted_text")
    want = {r.doc_id: (r.n_emails, r.n_urls, r.n_numbers, r.redacted_hash)
            for r in batch.collect()}
    assert got == want


def test_stream_clean_pipeline_matches_batch(spark, docs_dir):
    """redact → quality-score → filter incrementally == the same batch
    composition (score computed on the redacted text in both)."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.text import round_half_up
    from mini_hadoop_spark.operators.text_analysis import (
        _quality_parts,
        QUALITY_KEEP_THRESHOLD,
        redact_pii_frame,
    )
    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.documents import (
        read_documents_stream,
        streaming_clean_pipeline,
    )
    from mini_hadoop_spark.streaming.windowed import run_stream_to_memory

    table = f"docs_clean_{uuid.uuid4().hex[:8]}"
    stream = streaming_clean_pipeline(read_documents_stream(spark, docs_dir))
    run_stream_to_memory(stream, table, output_mode="append")
    got = {r.doc_id: (r.n_emails, r.n_urls, r.n_numbers, r.quality_score)
           for r in spark.table(table).collect()}

    red = redact_pii_frame(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "n_emails", "n_urls", "n_numbers",
        F.col("redacted_text").alias("text"),
    )
    *_, score = _quality_parts()
    batch = (
        red.withColumn("quality_score", round_half_up(score, 6))
        .filter(F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
        .select("doc_id", "n_emails", "n_urls", "n_numbers", "quality_score")
    )
    want = {r.doc_id: (r.n_emails, r.n_urls, r.n_numbers, r.quality_score)
            for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_static_enrich_matches_batch(spark, events_dir):
    """Stream enriched with a static dimension (events ⟕ customer
    segment) must equal the batch join over the same closed input;
    unmatched users keep nulls (left join)."""
    import uuid
    from collections import Counter

    from pyspark.sql import functions as F

    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.joins import stream_static_enrich
    from mini_hadoop_spark.streaming.windowed import read_events_stream, run_stream_to_memory

    dim = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("cust_id"), "c_mktsegment"
    )
    table = f"sse_{uuid.uuid4().hex[:8]}"
    out = stream_static_enrich(
        read_events_stream(spark, events_dir).select("event_id", "user_id"),
        dim, stream_key="user_id", dim_key="cust_id",
    ).select("event_id", "user_id", "c_mktsegment")
    run_stream_to_memory(out, table, output_mode="append")
    got = Counter((r.event_id, r.c_mktsegment) for r in spark.table(table).collect())

    batch = (
        load_table(spark, SF_DIR, "events").select("event_id", "user_id")
        .join(dim, F.col("user_id") == F.col("cust_id"), "left")
    )
    want = Counter((r.event_id, r.c_mktsegment) for r in batch.collect())
    assert got == want
    assert got


def test_stream_interval_join_validates_schema_contract(spark):
    """Shared non-key columns (including left_ts == right_ts) and a
    missing key must be rejected up front with a clear error, not
    surface later as AMBIGUOUS_REFERENCE."""
    import pandas as pd
    import pytest as pt

    from mini_hadoop_spark.streaming.joins import stream_interval_join

    a = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [pd.Timestamp("2026-01-01")]}))
    b = spark.createDataFrame(pd.DataFrame({"k": [1], "ts": [pd.Timestamp("2026-01-01")]}))
    with pt.raises(ValueError, match="disjoint.*ts"):
        stream_interval_join(a, b, key="k", left_ts="ts", right_ts="ts", max_gap_sec=60)
    c = b.withColumnRenamed("k", "other")
    with pt.raises(ValueError, match="missing key"):
        stream_interval_join(a, c, key="k", left_ts="ts", right_ts="ts", max_gap_sec=60)


def test_streaming_dedup_first_seen(spark, tmp_path):
    """Two micro-batches with overlapping keys: every key emits exactly
    once, with its first-batch timestamp; intra-batch repeats are counted
    as suppressed."""
    import uuid

    import pandas as pd

    from mini_hadoop_spark.streaming.stateful import streaming_dedup_first_seen
    from mini_hadoop_spark.streaming.windowed import EVENTS_STREAM_SCHEMA

    d = tmp_path / "dedup_stream"
    d.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / name))

    write_batch(
        "b1",
        [
            (1, "2026-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (2, "2026-01-01 10:01:00", 2, "click", 1.0, "{}"),
            (3, "2026-01-01 10:02:00", 1, "view", 1.0, "{}"),  # dup key user 1
        ],
    )

    sink = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    def drain():
        src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(d / "*"))
        out = streaming_dedup_first_seen(
            src.withColumn("key", src.user_id.cast("string")), "key"
        )
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.key: (r.first_ts, r.n_suppressed) for r in spark.read.parquet(sink).collect()}

    rows1 = drain()
    assert set(rows1) == {"1", "2"}
    assert rows1["1"][0] == pd.Timestamp("2026-01-01 10:00:00")
    assert rows1["1"][1] == 1  # the 10:02 repeat suppressed in-batch
    assert rows1["2"][1] == 0

    # second micro-batch: key 1 repeats (suppressed via cross-batch
    # state), key 3 is new (emitted)
    write_batch(
        "b2",
        [
            (4, "2026-01-01 10:10:00", 1, "click", 1.0, "{}"),
            (5, "2026-01-01 10:11:00", 3, "click", 1.0, "{}"),
        ],
    )
    rows2 = drain()
    assert set(rows2) == {"1", "2", "3"}
    assert rows2["1"] == rows1["1"]  # unchanged: no re-emission
    assert rows2["3"][0] == pd.Timestamp("2026-01-01 10:11:00")


def test_streaming_dedup_native_matches_custom_keys(spark, tmp_path):
    """The built-in dropDuplicatesWithinWatermark variant emits the same
    KEY SET with the same first-sighting timestamps as the custom
    applyInPandasWithState operator across micro-batches."""
    import pandas as pd

    from mini_hadoop_spark.streaming.stateful import streaming_dedup_native
    from mini_hadoop_spark.streaming.windowed import EVENTS_STREAM_SCHEMA

    d = tmp_path / "ndedup_stream"
    d.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / name))

    write_batch(
        "b1",
        [
            (1, "2026-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (2, "2026-01-01 10:01:00", 2, "click", 1.0, "{}"),
            (3, "2026-01-01 10:02:00", 1, "view", 1.0, "{}"),  # dup key user 1
        ],
    )

    sink = str(tmp_path / "ndedup_out")
    ckpt = str(tmp_path / "ndedup_ckpt")

    def drain():
        src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(d / "*"))
        out = streaming_dedup_native(src.withColumn("key", src.user_id.cast("string")), "key")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.key: r.first_ts for r in spark.read.parquet(sink).collect()}

    rows1 = drain()
    assert rows1 == {
        "1": pd.Timestamp("2026-01-01 10:00:00"),
        "2": pd.Timestamp("2026-01-01 10:01:00"),
    }

    # cross-batch: key 1 repeats (suppressed via state), key 3 is new
    write_batch(
        "b2",
        [
            (4, "2026-01-01 10:10:00", 1, "click", 1.0, "{}"),
            (5, "2026-01-01 10:11:00", 3, "click", 1.0, "{}"),
        ],
    )
    rows2 = drain()
    assert rows2 == {
        "1": pd.Timestamp("2026-01-01 10:00:00"),
        "2": pd.Timestamp("2026-01-01 10:01:00"),
        "3": pd.Timestamp("2026-01-01 10:11:00"),
    }


def test_streaming_dedup_index_maintenance(spark, tmp_path):
    """foreachBatch fingerprint-index maintenance: each drained shard is
    deduped against the on-disk index AND within itself, and only new
    fingerprints are appended — first-seen-batch keeper semantics, with
    replay idempotence (a reprocessed batch appends nothing)."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from mini_hadoop_spark.streaming.index_maintenance import (
        dedup_index_batch,
        read_index,
        run_incremental_dedup_index,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    idx = str(tmp_path / "fp_index")
    ckpt = str(tmp_path / "fp_ckpt")

    def land(name, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        _sh.copy(part, landing / f"{name}.parquet")

    def index_rows():
        return {
            r.content_hash: (r.keep_doc_id, r.n_batch_copies)
            for r in read_index(spark, idx).collect()
        }

    h = lambda t: spark.range(1).select(F.sha2(F.lit(t), 256)).first()[0]

    # shard 1: "xx" duplicated in-batch (keeper 1), "yy" unique
    land("s0", [(1, "xx", "web", "en"), (2, "yy", "web", "en"), (10, "xx", "web", "en")])
    run_incremental_dedup_index(spark, str(landing), idx, ckpt)
    assert index_rows() == {h("xx"): (1, 2), h("yy"): (2, 1)}

    # shard 2: "xx" again with doc_id 0 — SMALLER than the committed
    # keeper 1, so a global-min dedup would re-elect it; first-seen-batch
    # suppresses it and the keeper stays 1.  "zz" is new with an in-batch dup.
    land("s1", [(0, "xx", "web", "en"), (4, "zz", "web", "en"), (40, "zz", "web", "en")])
    run_incremental_dedup_index(spark, str(landing), idx, ckpt)
    assert index_rows() == {h("xx"): (1, 2), h("yy"): (2, 1), h("zz"): (4, 2)}

    # drain with nothing new: checkpoint remembers processed files
    run_incremental_dedup_index(spark, str(landing), idx, ckpt)
    assert index_rows() == {h("xx"): (1, 2), h("yy"): (2, 1), h("zz"): (4, 2)}

    # replay idempotence at the sink level: re-presenting an already-
    # committed batch contributes zero new fingerprint rows
    replay = spark.createDataFrame(
        [(0, "xx", "web", "en"), (4, "zz", "web", "en")],
        "doc_id long, text string, source string, lang string",
    )
    assert dedup_index_batch(replay, idx).count() == 0


def test_stream_outer_join_null_emission(spark, tmp_path):
    """LEFT OUTER interval join: a buffered unmatched click emits its
    null-error row ONLY once the watermark proves no future error can
    match (click_ts + gap < min-branch-watermark); a matched click never
    emits a null even after eviction; a recent unmatched click emits
    nothing on a bounded drain.  This is the state-eviction behavior the
    registered streaming_outer_join_drain's oracle encodes."""
    import pandas as pd

    from mini_hadoop_spark.streaming.joins import clicks_with_errors_outer
    from mini_hadoop_spark.streaming.windowed import EVENTS_STREAM_SCHEMA

    d = tmp_path / "soj_stream"
    d.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(d / name))

    sink = str(tmp_path / "soj_out")
    ckpt = str(tmp_path / "soj_ckpt")

    def drain():
        src = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(d / "*"))
        q = (
            clicks_with_errors_outer(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "drain timed out"
        return {
            (r.click_id, r.error_id) for r in spark.read.parquet(sink).collect()
        }

    # batch 1: c1 matches e1; c2 is unmatched but the watermark
    # (min-branch max − 1h) is far behind — no null yet
    write_batch(
        "b1",
        [
            (100, "2026-01-01 10:00:00", 1, "click", 1.0, "{}"),
            (110, "2026-01-01 10:10:00", 1, "error", 1.0, "{}"),
            (200, "2026-01-01 10:05:00", 2, "click", 1.0, "{}"),
        ],
    )
    assert drain() == {(100, 110)}

    # batch 2 advances both branch maxima to ~14:40 → watermark 13:40 →
    # eviction horizon 13:10: c2 (10:05, unmatched) emits its null row;
    # c1 (matched) is evicted silently; c3 (13:30) and c4 (14:40) are
    # newer than the horizon — still buffered, no row
    write_batch(
        "b2",
        [
            (300, "2026-01-01 13:30:00", 3, "click", 1.0, "{}"),
            (400, "2026-01-01 14:40:00", 9, "click", 1.0, "{}"),
            (410, "2026-01-01 14:45:00", 8, "error", 1.0, "{}"),
        ],
    )
    assert drain() == {(100, 110), (200, None)}


def test_streaming_ivf_index_maintenance(spark, tmp_path):
    """foreachBatch IVF inverted-list maintenance: each drained embedding
    shard is assigned to the FROZEN offline-trained quantizer's nearest
    centroids and appended; multi-shard incremental drains converge on
    the batch ivf_lists assignment exactly, with replay idempotence (a
    reprocessed shard appends nothing)."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators.similarity import ivf_lists, ivf_quantizer
    from mini_hadoop_spark.sources.catalog import load_table
    from mini_hadoop_spark.streaming.ivf_maintenance import (
        ivf_assign_batch,
        read_ivf_index,
        run_incremental_ivf_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = ivf_quantizer(spark, SF_DIR)
    want = {
        r.vec_id: r.cid
        for r in ivf_lists(spark, SF_DIR).select("vec_id", "cid").collect()
    }

    landing = tmp_path / "landing"
    landing.mkdir()
    idx = str(tmp_path / "ivf_index")
    ckpt = str(tmp_path / "ivf_ckpt")

    # polling contract (ADVICE r9 #2): an EMPTY landing dir — and a
    # not-yet-created one — are no-op drains, not schema-infer errors
    run_incremental_ivf_index(spark, str(landing), centroids, idx, ckpt)
    assert read_ivf_index(spark, idx).count() == 0
    run_incremental_ivf_index(
        spark, str(tmp_path / "never_created"), centroids, idx, ckpt
    )
    assert read_ivf_index(spark, idx).count() == 0

    def land(name, df):
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, landing / f"{name}.parquet")

    def index_rows():
        return {r.vec_id: r.cid for r in read_ivf_index(spark, idx).collect()}

    # shard 1: even vec_ids — the maintained index must equal the batch
    # assignment RESTRICTED to the vectors seen so far (frozen quantizer
    # => assignments never change as more vectors arrive)
    land("s0", emb.filter(F.col("vec_id") % 2 == 0))
    run_incremental_ivf_index(spark, str(landing), centroids, idx, ckpt)
    assert index_rows() == {v: c for v, c in want.items() if v % 2 == 0}

    # shard 2: the odd half — now the full batch assignment
    land("s1", emb.filter(F.col("vec_id") % 2 == 1))
    run_incremental_ivf_index(spark, str(landing), centroids, idx, ckpt)
    assert index_rows() == want

    # drain with nothing new: checkpoint remembers processed files
    run_incremental_ivf_index(spark, str(landing), centroids, idx, ckpt)
    assert index_rows() == want

    # replay idempotence at the sink level: re-presenting an already-
    # committed shard contributes zero new index rows
    assert ivf_assign_batch(emb.limit(50), centroids, idx).count() == 0

    # RECENTER+REBUILD (the lifecycle capstone): applying the offline
    # recenter to the streaming-accumulated index must land on EXACTLY
    # the batch ivf_recenter_apply's post-recenter assignment — same
    # one-more-Lloyd-step fixed-point mean, same reassignment tiebreak
    from mini_hadoop_spark.operators.similarity import ivf_recenter_apply
    from mini_hadoop_spark.streaming.ivf_maintenance import recenter_ivf_index

    want_after = {
        r.vec_id: r.cid_after
        for r in ivf_recenter_apply(spark, SF_DIR).select("vec_id", "cid_after").collect()
    }
    new_cents = recenter_ivf_index(spark, str(landing), idx)
    assert index_rows() == want_after
    # the returned quantizer is the moved centroids (one per surviving
    # non-empty list), ready to freeze for subsequent ivf_assign_batch
    assert new_cents.count() == len(set(want.values()))


def test_streaming_contamination_matches_batch_across_shards(spark, tmp_path):
    """Streaming decontamination gate (r12): train documents landing in
    SEPARATE shards (maxFilesPerTrigger=1 → one micro-batch each) yield
    a report whose union equals the batch contamination computation —
    the doc-local composition property the drain leans on — and new
    shards extend the report incrementally without touching prior rows."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from mini_hadoop_spark.functions.text import shingles, tokens
    from mini_hadoop_spark.operators.dedup import CONTAM_EVAL_MODULUS, CONTAM_K
    from mini_hadoop_spark.streaming.index_maintenance import (
        contamination_batch,
        run_streaming_contamination,
    )

    # eval doc 0 (doc_id % MODULUS == 0) defines the frozen suite; the
    # phrase is 6 tokens -> two overlapping 5-grams
    phrase = "alpha beta gamma delta epsilon zeta"
    schema = "doc_id long, text string, source string, lang string"
    assert 0 % CONTAM_EVAL_MODULUS == 0
    eval_df = spark.createDataFrame([(0, phrase, "suite", "en")], schema)
    eval_sh = (
        eval_df.select(F.col("doc_id").alias("eval_doc_id"), tokens("text").alias("t"))
        .select("eval_doc_id", F.explode(shingles("t", CONTAM_K)).alias("shingle"))
        .localCheckpoint(eager=True)
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        df = spark.createDataFrame(rows, schema)
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        _sh.copy(part, landing / f"{name}.parquet")

    def report_rows():
        return {
            (r.train_doc_id, r.eval_doc_id): (r.n_shared, r.contam_frac)
            for r in spark.read.parquet(report).collect()
        }

    # two shards, forced into separate micro-batches; train doc 1 copies
    # the whole phrase (both 5-grams + 2 extra grams of its own), train
    # doc 2 shares nothing, train doc 3 (second shard) shares one 5-gram
    land("s0", [(1, phrase + " eta theta", "web", "en"),
                (2, "totally unrelated words here friend", "web", "en")])
    land("s1", [(3, "alpha beta gamma delta epsilon nope", "web", "en")])
    run_streaming_contamination(
        spark, str(landing), eval_sh, report, ckpt, max_files_per_trigger=1
    )
    rows = report_rows()
    # doc 1: 8 tokens -> 4 distinct 5-grams, 2 shared -> frac 0.5
    # doc 3: 6 tokens -> 2 distinct 5-grams, 1 shared -> frac 0.5
    assert rows == {(1, 0): (2, 0.5), (3, 0): (1, 0.5)}

    # the union equals the one-shot batch computation over all docs
    all_train = spark.createDataFrame(
        [(1, phrase + " eta theta", "web", "en"),
         (2, "totally unrelated words here friend", "web", "en"),
         (3, "alpha beta gamma delta epsilon nope", "web", "en")],
        schema,
    )
    batch = {
        (r.train_doc_id, r.eval_doc_id): (r.n_shared, r.contam_frac)
        for r in contamination_batch(all_train, eval_sh).collect()
    }
    assert rows == batch

    # a later shard extends the report without rewriting earlier rows
    land("s2", [(5, "beta gamma delta epsilon zeta yes", "web", "en")])
    run_streaming_contamination(
        spark, str(landing), eval_sh, report, ckpt, max_files_per_trigger=1
    )
    assert report_rows() == {**rows, (5, 0): (1, 0.5)}


def test_streaming_classifier_scores_match_batch_across_shards(spark, tmp_path):
    """Streaming quality scoring (r13): documents landing in SEPARATE
    shards (maxFilesPerTrigger=1 → one micro-batch each) yield a score
    table whose union equals batch scoring under the same frozen
    weights — the doc-local composition property the drain leans on —
    and new shards extend the table incrementally without touching
    prior rows."""
    import shutil as _sh

    from mini_hadoop_spark.operators.classifier import score_docs
    from mini_hadoop_spark.streaming.index_maintenance import (
        run_streaming_classifier_scores,
    )

    schema = "doc_id long, text string, source string, lang string"
    # a hand-built weight vector: every bucket weight 1, so a doc's
    # margin is simply its count of DISTINCT token buckets — easy to
    # reason about and independent of training dynamics
    w = {b: 1 for b in range(64)}

    landing = tmp_path / "landing"
    landing.mkdir()
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        df = spark.createDataFrame(rows, schema)
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        _sh.copy(part, landing / f"{name}.parquet")

    def score_rows():
        return {
            r.doc_id: (r.margin, r.pred_keep)
            for r in spark.read.parquet(report).collect()
        }

    land("s0", [(1, "alpha beta alpha", "web", "en"),   # 2 distinct buckets
                (2, "", "web", "en")])                  # empty text -> margin 0
    land("s1", [(3, "alpha beta gamma delta", "web", "en")])
    run_streaming_classifier_scores(
        spark, str(landing), w, report, ckpt, max_files_per_trigger=1
    )
    rows = score_rows()
    assert rows == {1: (2, True), 2: (0, False), 3: (4, True)}

    # the union equals the one-shot batch scoring over all docs
    all_docs = spark.createDataFrame(
        [(1, "alpha beta alpha", "web", "en"),
         (2, "", "web", "en"),
         (3, "alpha beta gamma delta", "web", "en")],
        schema,
    )
    batch = {
        r.doc_id: (r.margin, r.pred_keep)
        for r in score_docs(all_docs, w).collect()
    }
    assert rows == batch

    # a later shard extends the table without rewriting earlier rows
    land("s2", [(5, "zeta", "web", "en")])
    run_streaming_classifier_scores(
        spark, str(landing), w, report, ckpt, max_files_per_trigger=1
    )
    assert score_rows() == {**rows, 5: (1, True)}


def test_drains_run_in_a_clone_and_never_write_the_callers_conf(spark, monkeypatch):
    """Two drains built concurrently each start their stream in a clone
    of the caller's session: the caller's shuffle-partition conf reads
    its own value throughout, the drained stateful operators run with
    STREAM_DRAIN_PARTITIONS partitions, and a conf the caller set at
    runtime carries over into the clone."""
    import threading
    import time

    from mini_hadoop_spark.session import clear, clone_session
    from mini_hadoop_spark.streaming import windowed as W

    key = "spark.sql.shuffle.partitions"
    runtime_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = {k: spark.conf.get(k) for k in (key, runtime_key)}
    mine = str(W.STREAM_DRAIN_PARTITIONS + 2)
    state_partitions = []
    run = W.run_stream_to_memory

    def recording_run(*args, **kwargs):
        q = run(*args, **kwargs)
        state_partitions.extend(
            op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]
        )
        return q

    monkeypatch.setattr(W, "run_stream_to_memory", recording_run)
    seen, errors, done = set(), [], threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            time.sleep(0.002)

    def build(drain):
        try:
            drain(spark, SF_DIR)
        except BaseException as exc:  # surfaced by the assert below
            errors.append(exc)

    spark.conf.set(key, mine)
    spark.conf.set(runtime_key, "4321")
    try:
        assert clone_session(spark, W.STREAM_DRAIN_PARTITIONS).conf.get(runtime_key) == "4321"
        clear()
        poller = threading.Thread(target=poll)
        poller.start()
        drains = [
            threading.Thread(target=build, args=(d,))
            for d in (W.streaming_hourly_drain, W.streaming_outer_join_drain)
        ]
        for t in drains:
            t.start()
        for t in drains:
            t.join()
        done.set()
        poller.join()
    finally:
        done.set()
        for k, v in saved.items():
            spark.conf.set(k, v)
        clear()
    assert not errors, errors
    assert seen == {mine}
    assert state_partitions and set(state_partitions) == {W.STREAM_DRAIN_PARTITIONS}


def test_streaming_pit_enrich_matches_batch_across_shards(spark, tmp_path):
    """Streaming PIT enrichment (r16): shipment facts landing in
    SEPARATE shards (maxFilesPerTrigger=1 → one micro-batch each) yield
    an enriched table whose union equals one-shot enrichment against
    the same frozen SCD2 dim — the fact-local property the drain leans
    on — and the PIT stamp never sees a future version (a fact between
    two versions gets the earlier; a fact before the first gets
    none)."""
    import datetime as dt
    import shutil as _sh

    from pyspark.sql import functions as F

    from mini_hadoop_spark.streaming.index_maintenance import (
        run_streaming_pit_enrich,
    )

    def ts(s):
        return dt.datetime.fromisoformat(s)

    order_keys = spark.createDataFrame(
        [(10, 100), (11, 100), (12, 200)], "o_orderkey long, o_custkey long"
    ).localCheckpoint(eager=True)
    versions = spark.createDataFrame(
        [
            (100, ts("2026-01-01"), 1, False),
            (100, ts("2026-01-10"), 2, True),
            (200, ts("2026-02-01"), 1, True),
        ],
        "custkey long, valid_from timestamp, version int, is_current boolean",
    ).localCheckpoint(eager=True)

    facts_schema = (
        "l_orderkey long, l_linenumber int, l_shipdate timestamp, "
        "l_extendedprice double, l_discount double"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        df = spark.createDataFrame(rows, facts_schema)
        staged = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(p for p in staged.iterdir() if p.name.endswith(".parquet"))
        _sh.copy(part, landing / f"{name}.parquet")

    def rows():
        return {
            (r.orderkey, r.linenumber): (r.custkey, r.ship_date, r.version, r.is_current, r.rev)
            for r in spark.read.parquet(report).collect()
        }

    land("s0", [
        (10, 1, ts("2026-01-05"), 100.0, 0.0),   # inside [v1, v2) -> v1
        (10, 2, ts("2026-01-10"), 100.0, 0.5),   # at v2 start -> v2
    ])
    land("s1", [
        (11, 1, ts("2025-12-25"), 10.0, 0.0),    # before v1 -> none
        (12, 1, ts("2026-03-01"), 20.0, 0.0),    # current version of cust 200
    ])
    run_streaming_pit_enrich(
        spark, str(landing), order_keys, versions, report, ckpt,
        max_files_per_trigger=1,
    )
    got = rows()
    assert got == {
        (10, 1): (100, "2026-01-05", 1, False, 100.0),
        (10, 2): (100, "2026-01-10", 2, True, 50.0),
        (11, 1): (100, "2025-12-25", None, None, 10.0),
        (12, 1): (200, "2026-03-01", 1, True, 20.0),
    }

    # a later shard extends the table without rewriting earlier rows
    land("s2", [(11, 2, ts("2026-01-20"), 40.0, 0.25)])
    run_streaming_pit_enrich(
        spark, str(landing), order_keys, versions, report, ckpt,
        max_files_per_trigger=1,
    )
    assert rows() == {**got, (11, 2): (100, "2026-01-20", 2, True, 30.0)}


@pytest.mark.parametrize("encoding", ["nanos_int64", "micros_ntz", "micros_utc"])
def test_pit_enrich_stream_adapts_shipdate_encoding(spark, tmp_path, encoding):
    """r16 code review: the facts stream must not hard-code one
    l_shipdate parquet encoding — the generator has shipped
    INT64 TIMESTAMP(NANOS), NTZ and UTC micros in different rounds.
    Pin all three through the real drain runner: same fact, same PIT
    stamp, regardless of on-disk encoding."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mini_hadoop_spark.streaming.index_maintenance import (
        run_streaming_pit_enrich,
    )

    ship = dt.datetime(2026, 1, 5)
    us = int(ship.timestamp() * 1_000_000)
    if encoding == "nanos_int64":
        arr = pa.array([us * 1000], pa.timestamp("ns"))
    elif encoding == "micros_ntz":
        arr = pa.array([ship], pa.timestamp("us"))
    else:
        arr = pa.array([ship], pa.timestamp("us", tz="UTC"))
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([10], pa.int64()),
                "l_linenumber": pa.array([1], pa.int32()),
                "l_shipdate": arr,
                "l_extendedprice": pa.array([100.0], pa.float64()),
                "l_discount": pa.array([0.0], pa.float64()),
            }
        ),
        str(landing / "s0.parquet"),
    )
    order_keys = spark.createDataFrame(
        [(10, 100)], "o_orderkey long, o_custkey long"
    ).localCheckpoint(eager=True)
    versions = spark.createDataFrame(
        [(100, dt.datetime(2026, 1, 1), 1, True)],
        "custkey long, valid_from timestamp, version int, is_current boolean",
    ).localCheckpoint(eager=True)
    report = str(tmp_path / "report")
    run_streaming_pit_enrich(
        spark, str(landing), order_keys, versions, report, str(tmp_path / "ckpt")
    )
    rows = spark.read.parquet(report).collect()
    assert [(r.orderkey, r.linenumber, r.ship_date, r.version, r.is_current, r.rev)
            for r in rows] == [(10, 1, "2026-01-05", 1, True, 100.0)]
