"""DFS-equivalent file store: store/retrieve/delete wrappers.

The reference's DFS half (S1-S5, SURVEY.md §2.1) — block splitting,
least-loaded placement, x2 replication, re-replication on node death
(master/file_operation.ex:146-556, master_node.ex:148-326) — is
storage-layer work that Spark delegates to HDFS/S3/local FS.  What
remains of the PUBLIC API (store_file / retrieve_file / delete_file,
lib/mini_hadoop.ex:6-16) is a catalog of named files stored as indexed
binary blocks, mirroring the reference's two split modes
(master/file_operation.ex:159-186):

* default — fixed ``block_size`` byte chunks of ARBITRARY binary
  (``File.stream!(path, block_size, [:read, :binary])``,
  file_operation.ex:185); any file round-trips byte-identically.
* ``split_on_newline=True`` — blocks accumulate whole lines (newline
  bytes included) until adding the next line would overflow
  ``block_size`` (the chunk_while at file_operation.ex:161-183; a
  single line longer than a block becomes one oversized block, exactly
  as the reference's ``current_size > 0`` guard allows).

Blocks are a parquet table ``(block_idx, data, n_bytes, n_newlines,
ends_nl)`` — the index makes retrieval order-exact
(file_operation.ex:299-443's index-ordered reassembly, done by an
orderBy instead of manual block stitching) while the data stays
splittable/distributed.  Scale posture: the driver computes only byte
RANGES (O(#blocks) metadata, O(1) memory even for the newline scan);
executors read their own ranges from the source path — the same
locality shape as an HDFS block ingest.  In local mode the path is
trivially shared; on a real cluster the source must be on a shared
filesystem, which matches the reference (its master streams a
master-local file to workers).  At 100 TB you would not funnel ingest
through a single posix file at all — you'd point spark.read at the
object store — so this API is kept for reference parity, not as the
bulk-ingest path.

Replication factor, block placement and heartbeats have no analogue
here on purpose: at 100 TB those belong to the object store.

``file_op_info`` parity (master/file_operation.ex:48-50, 91-118): every
store/retrieve is an *operation* with phase + processed/total counts
that can be polled MID-FLIGHT — block-level progress comes from a Spark
accumulator that executor tasks bump as they finish, readable from the
driver while the job runs.  ``store_file_async`` is the
submit-then-poll form of the reference's GenServer call.
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import SparkSession, functions as F

# The reference's default (models/block.ex:6 — 64KB).
DEFAULT_BLOCK_SIZE = 64 * 1024

BLOCK_SCHEMA = (
    "block_idx long, data binary, n_bytes long, n_newlines long, ends_nl boolean"
)


def _binary_ranges(file_size: int, block_size: int) -> list[tuple[int, int, int]]:
    """Fixed-size ranges: pure arithmetic, no file reads
    (Block.calculate_num_blocks, models/block.ex:20-22)."""
    return [
        (i, i * block_size, min(block_size, file_size - i * block_size))
        for i in range((file_size + block_size - 1) // block_size)
    ]


def _newline_ranges(local_path: str, block_size: int) -> list[tuple[int, int, int]]:
    """Line-aligned ranges via one streaming scan (O(1) memory): emit the
    current chunk when adding the next line would overflow a non-empty
    chunk — the reference's chunk_while (file_operation.ex:161-183)."""
    ranges: list[tuple[int, int, int]] = []
    start = 0
    current = 0
    with open(local_path, "rb") as f:
        for line in f:
            if current + len(line) > block_size and current > 0:
                ranges.append((len(ranges), start, current))
                start += current
                current = 0
            current += len(line)
    if current > 0:
        ranges.append((len(ranges), start, current))
    return ranges


def _written_rows(path: str) -> int:
    """Rows in a parquet directory written by Spark, from its part
    files' footers (no data pages are read)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


class FileStore:
    """Named file catalog rooted at a warehouse directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._ops: dict[int, dict] = {}
        self._ops_lock = threading.Lock()
        self._next_op_id = 1

    def _path(self, filename: str) -> str:
        if "/" in filename or filename.startswith("."):
            raise ValueError(f"invalid store filename: {filename!r}")
        return os.path.join(self.root, filename)

    def exists(self, filename: str) -> bool:
        return os.path.isdir(self._path(filename))

    def list_files(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root) if os.path.isdir(os.path.join(self.root, d))
        )

    # ------------------------------------------------------------------
    # Operation bookkeeping (file_op_info parity, file_operation.ex:48-50)
    # ------------------------------------------------------------------

    def _op_start(self, kind: str, filename: str) -> int:
        with self._ops_lock:
            op_id = self._next_op_id
            self._next_op_id += 1
            self._ops[op_id] = {
                "op_id": op_id,
                "kind": kind,
                "filename": filename,
                "state": "running",
                "phase": "submitted",
                "processed": 0,
                "total": None,
                "error": None,
            }
        return op_id

    def _op_update(self, op_id: int, **kv) -> None:
        with self._ops_lock:
            self._ops[op_id].update(kv)

    def file_op_info(self, op_id: int) -> dict:
        """Poll an operation's phase/progress — valid MID-FLIGHT for
        async stores (the reference's get_operation_info,
        file_operation.ex:48-50).  Returns a snapshot copy."""
        with self._ops_lock:
            if op_id not in self._ops:
                raise KeyError(f"unknown operation: {op_id}")
            snap = dict(self._ops[op_id])
        # Block-level progress comes from the job's accumulator, which
        # the driver can read while executor tasks are still finishing.
        acc = snap.pop("_acc", None)
        if acc is not None and snap["state"] == "running":
            snap["processed"] = min(acc.value, snap["total"] or acc.value)
        return snap

    # ------------------------------------------------------------------
    # Store
    # ------------------------------------------------------------------

    def store_file(
        self,
        filename: str,
        local_path: str,
        split_on_newline: bool = False,
        block_size: int = DEFAULT_BLOCK_SIZE,
        _op_id: Optional[int] = None,
        _on_phase: Optional[Callable[[str], None]] = None,
    ) -> int:
        """Ingest a local file as indexed binary blocks; returns the
        block count (the reference's num_blocks,
        file_operation.ex:149-150).

        Default split mode is raw fixed-size chunks — the reference's
        default (file_operation.ex:185) — so non-UTF-8 input
        round-trips byte-identically.  ``split_on_newline=True`` aligns
        chunks to line boundaries (file_operation.ex:159-183).

        ``_op_id``/``_on_phase`` are internal seams for the async/
        progress path and tests."""
        if block_size <= 0:
            raise ValueError("block_size must be positive")
        op_id = _op_id if _op_id is not None else self._op_start("store", filename)

        def phase(p: str, **kv) -> None:
            self._op_update(op_id, phase=p, **kv)
            if _on_phase is not None:
                _on_phase(p)

        try:
            if self.exists(filename):
                raise FileExistsError(f"file already exists in store: {filename}")
            if not os.path.exists(local_path):
                raise FileNotFoundError(local_path)

            phase("calculating blocks")
            if split_on_newline:
                ranges = _newline_ranges(local_path, block_size)
            else:
                ranges = _binary_ranges(os.path.getsize(local_path), block_size)

            acc = self.spark.sparkContext.accumulator(0)
            phase("storing blocks", total=len(ranges), _acc=acc)

            src = os.path.abspath(local_path)

            def read_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                # Executor-side: each task reads only its own byte
                # ranges — the ingest itself is distributed; only the
                # range METADATA ever transits the driver.
                for pdf in batches:
                    rows = []
                    with open(src, "rb") as f:
                        for r in pdf.itertuples(index=False):
                            f.seek(r.offset)
                            data = f.read(r.length)
                            rows.append(
                                (
                                    int(r.block_idx),
                                    data,
                                    len(data),
                                    data.count(b"\n"),
                                    data.endswith(b"\n"),
                                )
                            )
                            acc.add(1)
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "block_idx",
                            "data",
                            "n_bytes",
                            "n_newlines",
                            "ends_nl",
                        ],
                    )

            range_df = self.spark.createDataFrame(
                ranges or [], "block_idx long, offset long, length long"
            )
            blocks = range_df.mapInPandas(read_ranges, BLOCK_SCHEMA)
            blocks.write.parquet(self._path(filename))

            # Count what was WRITTEN, not the source lineage — re-reading
            # the local file could disagree if it was appended to
            # meanwhile.  The row counts sit in the part files' footers,
            # so summing them on the driver costs no Spark job.
            n_blocks = _written_rows(self._path(filename))
            self._op_update(
                op_id,
                state="completed",
                phase="completed",
                processed=n_blocks,
                total=n_blocks,
                _acc=None,
            )
            return n_blocks
        except BaseException as e:  # noqa: BLE001 - recorded then re-raised
            self._op_update(op_id, state="failed", phase="failed", error=str(e), _acc=None)
            raise

    def store_file_async(
        self,
        filename: str,
        local_path: str,
        split_on_newline: bool = False,
        block_size: int = DEFAULT_BLOCK_SIZE,
        _on_phase: Optional[Callable[[str], None]] = None,
    ) -> int:
        """Submit a store and return an op_id immediately — the
        reference's submit-then-poll GenServer shape
        (file_operation.ex:52-64).  Poll with ``file_op_info``."""
        op_id = self._op_start("store", filename)
        t = threading.Thread(
            target=lambda: self._swallow(
                self.store_file,
                filename,
                local_path,
                split_on_newline,
                block_size,
                _op_id=op_id,
                _on_phase=_on_phase,
            ),
            daemon=True,
        )
        t.start()
        return op_id

    @staticmethod
    def _swallow(fn, *args, **kwargs):
        # The async worker records failure in the op dict (store_file's
        # except clause); nothing to re-raise into a dead thread.
        try:
            fn(*args, **kwargs)
        except BaseException:
            pass

    # ------------------------------------------------------------------
    # Retrieve / delete / info
    # ------------------------------------------------------------------

    def retrieve_file(self, filename: str, local_path: str) -> int:
        """Reassemble the stored file byte-identically in block-index
        order; returns the byte count.

        Deliberate deviation from the reference: on a partially-
        retrievable file the reference marks the operation completed-
        with-warning and returns the bytes it could reassemble
        (file_operation.ex:418-423).  Here retrieval is all-or-raise —
        a missing parquet part fails the read outright — for the same
        reason the C5 failure-accounting deviation exists (see
        engine/mapreduce.py): silently returning partial data is the
        one behavior a data pipeline cannot detect downstream; Spark's
        fail-loud read surfaces the storage fault instead."""
        if not self.exists(filename):
            raise FileNotFoundError(f"not in store: {filename}")
        op_id = self._op_start("retrieve", filename)
        try:
            df = (
                self.spark.read.parquet(self._path(filename))
                .select("block_idx", "data")
                .orderBy(F.col("block_idx"))
            )
            os.makedirs(os.path.dirname(local_path) or ".", exist_ok=True)
            n = 0
            done = 0
            self._op_update(op_id, phase="retrieving blocks")
            with open(local_path, "wb") as f:
                for row in df.toLocalIterator():
                    f.write(row.data)
                    n += len(row.data)
                    done += 1
                    self._op_update(op_id, processed=done)
            self._op_update(
                op_id, state="completed", phase="completed", total=done
            )
            return n
        except BaseException as e:  # noqa: BLE001
            self._op_update(op_id, state="failed", phase="failed", error=str(e))
            raise

    def retrieve_text(self, filename: str, local_path: str) -> int:
        """Text-mode retrieve: byte reassembly, then return the LINE
        count (the old line-oriented API's contract) instead of bytes."""
        self.retrieve_file(filename, local_path)
        with open(local_path, "rb") as f:
            data = f.read()
        if not data:
            return 0
        return data.count(b"\n") + (0 if data.endswith(b"\n") else 1)

    def blocks(self, filename: str):
        """(block_idx, data) DataFrame over a stored file — the scan the
        MapReduce engine runs jobs on (``store://name`` inputs): each row
        is one block, matching the reference's one-map-call-per-block
        contract (task_executor.ex:141)."""
        if not self.exists(filename):
            raise FileNotFoundError(f"not in store: {filename}")
        return self.spark.read.parquet(self._path(filename)).select("block_idx", "data")

    def delete_file(self, filename: str) -> bool:
        if not self.exists(filename):
            return False
        shutil.rmtree(self._path(filename))
        return True

    def file_info(self, filename: str) -> dict:
        """Stored-file metadata — the ``file_op_info`` analogue for
        completed files (mini_hadoop.ex:75-80): block count, content
        bytes, line count (newline tally computed at ingest, so this is
        a metadata aggregation, not a data re-scan), and parquet
        part-file count standing in for the per-block replica map."""
        if not self.exists(filename):
            raise FileNotFoundError(f"not in store: {filename}")
        path = self._path(filename)
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        size = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
        agg = (
            self.spark.read.parquet(path)
            .agg(
                F.count("*").alias("n_blocks"),
                F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("content_bytes"),
                F.coalesce(F.sum("n_newlines"), F.lit(0)).alias("n_newlines"),
                F.coalesce(
                    F.max(F.struct("block_idx", "ends_nl"))["ends_nl"], F.lit(True)
                ).alias("last_ends_nl"),
            )
            .collect()[0]
        )
        n_lines = agg.n_newlines + (0 if agg.last_ends_nl or agg.content_bytes == 0 else 1)
        return {
            "filename": filename,
            "n_lines": n_lines,
            "n_blocks": agg.n_blocks,
            "n_part_files": len(parts),
            "content_bytes": agg.content_bytes,
            "total_bytes": size,
        }
