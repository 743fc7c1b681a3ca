"""foreachBatch maintenance of a persistent IVF inverted-list index —
the streaming counterpart of ``operators/similarity.py::ivf_lists``,
closing the loop between the streaming and ANN families (VERDICT r8
stretch #7).

Production vector stores split IVF into exactly these two lifecycles:
the COARSE QUANTIZER is trained offline on a corpus snapshot and then
FROZEN (retraining it would invalidate every existing list assignment),
while the INVERTED LISTS are maintained online — every newly-ingested
vector is assigned to its nearest frozen centroid and appended to that
centroid's list, so the ANN query path sees new vectors without an
index rebuild.  ``foreachBatch`` is the Structured Streaming primitive
for the read-modify-append cycle, identical in shape to the dedup
fingerprint index (index_maintenance.py).

Assignment is ``similarity._assign`` — the same broadcast-centroid
zero-shuffle argmax the batch build uses, so a drained bounded input
lands on EXACTLY the batch ``ivf_lists`` (vec_id, cid) assignment and
the registered drain is gated by the shared ``_ivf_ctes`` DuckDB
oracle.

Delivery semantics: micro-batches run strictly sequentially; a replayed
batch is a no-op because its vec_ids are already in the index (vec_id
anti-join), upgrading at-least-once to effectively-once for this sink —
same argument, same residual partial-file window, as the dedup index.

Scale posture: per batch, one broadcast-model projection (no shuffle at
all on the vector side) + one vec_id anti-join against the index scan;
shuffle keys are ids, never the 64-double arrays.  At 100 TB partition
the index by cid so ANN probes and the anti-join both prune; periodic
RE-CENTERING (recompute centroids from accumulated lists, then rebuild)
is the compaction analogue and deliberately a separate offline step —
exactly how IVF services (FAISS-on-stream deployments) schedule it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_hadoop_spark.session import release

IVF_INDEX_SCHEMA = "vec_id bigint, cid bigint"


def _index_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def read_ivf_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current (vec_id, cid) inverted-list index, or an empty frame
    if no batch has ever committed.  Only the missing-path case maps to
    empty — a corrupt index must raise (treating it as empty would
    re-admit every vector and double the lists)."""
    if not _index_exists(spark, index_dir):
        return spark.createDataFrame([], IVF_INDEX_SCHEMA)
    return spark.read.schema(IVF_INDEX_SCHEMA).parquet(index_dir)


def ivf_assign_batch(
    batch: DataFrame, centroids: DataFrame, index_dir: str
) -> DataFrame:
    """The NEW (vec_id, cid) rows one embedding batch contributes: each
    vector assigned to its nearest FROZEN centroid (broadcast argmax —
    the batch build's `_assign`), anti-joined on vec_id against the
    index as currently on disk (replay idempotence)."""
    from mini_hadoop_spark.functions.vectors import as_double, norm
    from mini_hadoop_spark.operators.similarity import _assign

    spark = batch.sparkSession
    v = batch.select("vec_id", as_double("embedding").alias("e")).withColumn(
        "nv", norm(F.col("e"))
    )
    assigned = _assign(v, centroids, 1, "cid").select("vec_id", "cid")
    existing = read_ivf_index(spark, index_dir).select("vec_id")
    return assigned.join(existing, "vec_id", "left_anti")


def recenter_ivf_index(
    spark: SparkSession, emb_dir: str, index_dir: str
) -> DataFrame:
    """The offline RECENTER+REBUILD pass the drift audit
    (operators/similarity.py::ivf_recenter_audit) gates — the compaction
    analogue this module's docstring promises: recompute every centroid
    as the fixed-point mean of its accumulated on-disk list (one Lloyd
    round, ``fixed_point_means`` — the exact arithmetic of the batch
    build's refine step), reassign every indexed vector to the moved
    centroids, and SWAP the index in place.  Returns the new frozen
    quantizer (cid, ce) to hand to subsequent ``ivf_assign_batch``
    calls.

    A pytest pins that the post-recenter on-disk index equals the batch
    ``ivf_recenter_apply``'s (vec_id, cid_after) exactly — streaming
    accumulation + recenter converges on the fresh batch rebuild.

    Scale posture: vectors are re-read from the landing dir (the index
    stores ids only — 100 TB of arrays don't belong in the index);
    mean is K·dims rows after the scan; reassignment is the broadcast
    zero-shuffle `_assign`.  The swap is write-new-then-replace: the
    new assignment materializes (localCheckpoint) BEFORE the overwrite
    so the write never scans the directory it replaces."""
    from mini_hadoop_spark.functions.vectors import as_double, norm
    from mini_hadoop_spark.operators.similarity import _assign, fixed_point_means

    idx = read_ivf_index(spark, index_dir)
    vecs = (
        spark.read.parquet(emb_dir)
        .select("vec_id", as_double("embedding").alias("e"))
        .withColumn("nv", norm(F.col("e")))
    )
    assigned = idx.join(vecs, "vec_id")
    # BOTH outputs materialize BEFORE the overwrite: their lineage reads
    # the old index files the swap is about to delete
    cent_new = fixed_point_means(assigned).localCheckpoint(eager=True)
    new_index = (
        _assign(assigned.select("vec_id", "e", "nv"), cent_new, 1, "cid")
        .select("vec_id", "cid")
        .localCheckpoint(eager=True)
    )
    new_index.write.mode("overwrite").parquet(index_dir)
    release(new_index)
    return cent_new


def run_incremental_ivf_index(
    spark: SparkSession,
    emb_dir: str,
    centroids: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain every unprocessed embedding shard in ``emb_dir`` through
    the assign→append cycle (availableNow: processes what exists, then
    stops — call again when new shards land; the checkpoint remembers
    which files are done).  ``centroids`` is the frozen offline-trained
    coarse quantizer (e.g. ``similarity.ivf_quantizer``)."""
    # a streaming source commits to a fixed schema up front; probe the
    # on-disk one batch-side (same pattern as the events ts-encoding
    # probe — the embedding column has shipped float32 and float64).
    # An empty landing dir is a no-op drain, not an error: the polling
    # contract says "call again when new shards land", and the schema
    # probe would otherwise raise 'Unable to infer schema'.
    try:
        schema = spark.read.parquet(emb_dir).schema
    except Exception as exc:  # pragma: no cover - message text is Spark's
        if "Unable to infer schema" in str(exc) or "Path does not exist" in str(exc):
            return
        raise
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(emb_dir)

    def _append_new(batch: DataFrame, _batch_id: int) -> None:
        # materialize BEFORE appending so the write job never holds an
        # in-flight scan of the directory it appends to (same insurance
        # as the dedup index sink; the new side is one batch's ids)
        new_rows = ivf_assign_batch(batch, centroids, index_dir).localCheckpoint(
            eager=True
        )
        new_rows.write.mode("append").parquet(index_dir)
        release(new_rows)

    q = (
        stream.writeStream.foreachBatch(_append_new)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
