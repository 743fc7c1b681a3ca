"""Generic MapReduce shim: ``JobSpec`` + ``run_job``.

Reference parity (citations into /root/reference):

* Spec shape + validation matrix — lib/mini_hadoop/models/job_spec.ex:
  allowed keys (:72-96), required keys (:98-110), per-key type checks
  (:112-151), arity-1 function normalization (:161-188), input-file
  existence (:61-69).  Error messages mirror the reference's wording so
  the ported job_spec_test.exs assertions carry over.
* Reduce calling convention — the ENGINE calls the reducer once per
  key-range partition with a ``%{key => [values]}`` map
  (task_executor.ex:93-132), but the README-documented public contract
  (README.md:584-585) and the example unit tests
  (word_count_test.exs:41-64) are per-key: ``reduce_fn(key, values,
  context)``.  The per-key contract is the default — it is the
  documented one, and maps 1:1 onto ``groupByKey().map`` (SURVEY.md
  §7.3).  The engine-actual convention is ALSO offered:
  ``JobSpec.create(..., reduce_mode="per_range")`` calls
  ``reduce_fn(pairs_map, context)`` once per range partition with the
  whole ``{key: [values]}`` dict, after a ``sortByKey`` whose
  RangePartitioner reproduces SH1/SH2 (sample keys -> contiguous
  ranges, job_runner.ex:534-577) with Spark's own reservoir sampling.
* Whole-block mappers — the reference maps 8 MB blocks, not lines
  (task_executor.ex:141), so mappers amortize per-block setup.  Here a
  map task receives ONE newline-joined string per Spark partition
  (``mapPartitions``), i.e. the ``split_on_newline: true`` block
  semantics (file_operation.ex:159-183) with Spark-sized splits.
* Contexts — ``map_context``/``reduce_context`` dicts ride to executors
  as broadcast variables (the reference passes them as closure args,
  job_spec.ex:10-20; PageRank's prior-ranks side-file becomes exactly
  this broadcast).
* ``sort_result_opt`` — {:key|:value, :asc|:desc} (job_runner.ex:
  314-329) as a DISTRIBUTED sort with a deterministic secondary key
  (the reference's value-sort leaves ties nondeterministic; ours does
  not — SURVEY.md §7.3).
* Failure semantics — deliberately NOT ported: the reference silently
  drops failed tasks from results (job_runner.ex:221-231); Spark
  retries 4x then fails the job, which is strictly better (SURVEY §4).

Scale posture: map = narrow ``mapPartitions`` (no shuffle); the only
shuffle is the ``groupByKey`` on the user's keys; output lands as a
typed DataFrame.  ``groupByKey`` (not ``reduceByKey``) is semantically
required because the user reducer sees the full value list; callers
with associative reducers should set ``combiner=`` to get map-side
combining — the upgrade path the reference lacks entirely (its
"map-side grouping", task_result_storage.ex:291-304, groups but never
combines).
"""

from __future__ import annotations

import inspect
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession, functions as F

if TYPE_CHECKING:  # pragma: no cover
    from mini_hadoop_spark.sources.dfs import FileStore

VALID_SORT_OPTS = {
    ("key", "asc"),
    ("key", "desc"),
    ("value", "asc"),
    ("value", "desc"),
}

#: input_files scheme marking a FileStore-resident file — the reference's
#: actual job flow (store_file → submit_job over the DFS filename,
#: mini_hadoop.ex:18-32); pass the FileStore via run_job(store=...)
STORE_SCHEME = "store://"

#: Python scalar type name -> the SQL type createDataFrame's inference
#: gives it (pyspark.sql.types._type_mappings)
_PROBED_SQL_TYPES = {"str": "string", "int": "bigint", "float": "double", "bool": "boolean"}

_ALLOWED_KEYS = (
    "job_name",
    "input_files",
    "output_dir",
    "map_function",
    "reduce_function",
    "map_context",
    "reduce_context",
    "sort_result_opt",
)
_REQUIRED_KEYS = ("job_name", "input_files", "map_function", "reduce_function")


class JobSpecError(ValueError):
    """Invalid job specification (mirrors job_spec.ex {:error, reason})."""


def _normalize_fn(fn: Callable, kind: str) -> Callable:
    """Arity normalization per job_spec.ex:161-188: a 1-arg function is
    wrapped to accept-and-ignore the context; 2-arg (map: (block, ctx);
    reduce is handled separately with 3 args) passes through."""
    try:
        arity = len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):  # builtins without signatures
        raise JobSpecError(f"{kind} function has invalid signature")
    if kind == "map":
        if arity == 1:
            return lambda block, _ctx: fn(block)
        if arity == 2:
            return fn
        raise JobSpecError(f"map function has invalid arity: {arity}. Must be 1 or 2.")
    if kind == "reduce_range":
        # engine-actual contract (task_executor.ex:93-132):
        # reduce_fn(pairs_map[, context]) over a whole range partition
        if arity == 1:
            return lambda pairs, _ctx: fn(pairs)
        if arity == 2:
            return fn
        raise JobSpecError(
            f"per-range reduce function has invalid arity: {arity}. Must be 1 or 2."
        )
    # reduce: per-key README contract (key, values[, context])
    if arity == 2:
        return lambda key, values, _ctx: fn(key, values)
    if arity == 3:
        return fn
    raise JobSpecError(f"reduce function has invalid arity: {arity}. Must be 2 or 3.")


@dataclass
class JobSpec:
    """Static job plan — the logical-plan analogue (SURVEY.md §3.1 IR)."""

    job_name: str
    input_files: list[str]
    map_function: Callable
    reduce_function: Callable
    output_dir: str | None = None
    map_context: dict = field(default_factory=dict)
    reduce_context: dict = field(default_factory=dict)
    sort_result_opt: tuple[str, str] | None = None
    reduce_mode: str = "per_key"
    id: str = field(default_factory=lambda: f"job_{uuid.uuid4().hex[:4]}")

    @classmethod
    def create(
        cls,
        check_files: bool = True,
        reduce_mode: str = "per_key",
        store: "FileStore | None" = None,
        **attrs: Any,
    ) -> "JobSpec":
        """Validated construction mirroring job_spec.ex:35-51.

        Pass ``store=`` to also validate ``store://name`` inputs against
        the file store at SPEC time (the reference checks DFS filenames
        when the spec is built, job_spec.ex:61-69); without it, store
        inputs are validated when the job runs.

        ``reduce_mode`` selects the reduce calling convention and is a
        keyword (not a spec attr) so the attrs/error surface stays
        reference-parity: ``"per_key"`` (default, README.md:584-585) =
        ``reduce_fn(key, values[, context])``; ``"per_range"``
        (engine-actual, task_executor.ex:93-132) =
        ``reduce_fn({key: [values]}[, context])`` once per range
        partition.

        Raises :class:`JobSpecError` with reference-parity messages."""
        if reduce_mode not in ("per_key", "per_range"):
            raise JobSpecError(
                f"reduce_mode must be 'per_key' or 'per_range', got: {reduce_mode!r}"
            )
        invalid = [k for k in attrs if k not in _ALLOWED_KEYS]
        if invalid:
            raise JobSpecError(
                f"Invalid keys: {', '.join(invalid)}. Allowed keys: {', '.join(_ALLOWED_KEYS)}"
            )
        missing = [k for k in _REQUIRED_KEYS if k not in attrs]
        if missing:
            raise JobSpecError(f"Missing required keys: {', '.join(missing)}")

        if not isinstance(attrs["job_name"], str):
            raise JobSpecError(f"job_name must be a string, got: {attrs['job_name']!r}")
        if not isinstance(attrs["input_files"], list):
            raise JobSpecError(f"input_files must be a list, got: {attrs['input_files']!r}")
        if "output_dir" in attrs and not isinstance(attrs["output_dir"], str):
            raise JobSpecError(f"output_dir must be a string, got: {attrs['output_dir']!r}")
        for key in ("map_function", "reduce_function"):
            if not callable(attrs[key]):
                raise JobSpecError(f"{key} must be a function, got: {attrs[key]!r}")
        for key in ("map_context", "reduce_context"):
            if key in attrs and not isinstance(attrs[key], dict):
                raise JobSpecError(f"{key} must be a map, got: {attrs[key]!r}")
        sort_opt = attrs.get("sort_result_opt")
        if sort_opt is not None:
            if not isinstance(sort_opt, tuple):
                raise JobSpecError(f"sort_result_opt must be a tuple, got: {sort_opt!r}")
            if tuple(sort_opt) not in VALID_SORT_OPTS:
                raise JobSpecError(
                    f"sort_result_opt must be one of {sorted(VALID_SORT_OPTS)}, got: {sort_opt!r}"
                )

        if not attrs["input_files"]:
            raise JobSpecError("input_files must not be empty")
        bad_paths = [p for p in attrs["input_files"] if not isinstance(p, str) or "," in p]
        if bad_paths:
            # sc.textFile takes a comma-joined path list, so a comma IN a
            # path cannot be expressed — reject loudly at spec time
            raise JobSpecError(f"input paths must be comma-free strings: {bad_paths!r}")

        if check_files:
            import os

            # store://name inputs are DFS-resident (the reference's
            # submit_job reads files already ingested via store_file,
            # mini_hadoop.ex:18-32); their existence is checked against
            # the FileStore at run time, not the local filesystem
            missing_files = [
                p
                for p in attrs["input_files"]
                if not p.startswith(STORE_SCHEME) and not os.path.exists(p)
            ]
            if store is not None:
                missing_files += [
                    p
                    for p in attrs["input_files"]
                    if p.startswith(STORE_SCHEME)
                    and not store.exists(p[len(STORE_SCHEME):])
                ]
            if missing_files:
                raise JobSpecError(f"Input files do not exist: {', '.join(missing_files)}")

        attrs["map_function"] = _normalize_fn(attrs["map_function"], "map")
        attrs["reduce_function"] = _normalize_fn(
            attrs["reduce_function"],
            "reduce_range" if reduce_mode == "per_range" else "reduce",
        )
        return cls(reduce_mode=reduce_mode, **attrs)


@dataclass
class JobResult:
    """Completed-job handle: the typed pair DataFrame plus metadata —
    the JobExecution analogue (job_execution.ex:10-49), with Spark's
    StatusTracker standing in for the reference's progress counters."""

    job_id: str
    job_name: str
    pairs: DataFrame  # columns: key, value
    sort_result_opt: tuple[str, str] | None = None
    output_paths: tuple[str, str] | None = None  # (json, tsv) when output_dir set

    def collect_pairs(self) -> list[tuple]:
        return [(r.key, r.value) for r in self.pairs.collect()]


def _validate_pairs(result: Any, kind: str) -> list[tuple]:
    """Output-shape validation per task_executor.ex:176-211: a list of
    2-tuples with non-None keys."""
    if not isinstance(result, (list, tuple)):
        raise ValueError(f"{kind} function must return a list of (key, value) pairs")
    for item in result:
        if not (isinstance(item, tuple) and len(item) == 2):
            raise ValueError(f"{kind} function returned a non-pair item: {item!r}")
        if item[0] is None:
            raise ValueError(f"{kind} function returned a None key")
    return list(result)


def run_job(
    spark: SparkSession,
    spec: JobSpec,
    combiner: Callable[[Any, Any], Any] | None = None,
    store: "FileStore | None" = None,
) -> JobResult:
    """Execute a MapReduce job (submit_job analogue, mini_hadoop.ex:18-20).

    map phase   : one call per partition with the newline-joined block
                  (whole-block contract) -> validated [(k, v)].
                  ``store://name`` inputs (requires ``store=``) map the
                  reference's ACTUAL flow — store_file then submit_job
                  over the DFS filename — with exactly one map call per
                  stored BLOCK (task_executor.ex:141's whole-block-binary
                  contract, sharper than the per-partition approximation
                  used for plain local paths).
    shuffle     : Spark hash shuffle on the key (replaces SH1-SH3
                  sampling/ranging/pulling, all delegated — SURVEY §4);
                  ``reduce_mode="per_range"`` shuffles with a
                  RangePartitioner instead (sortByKey), the direct
                  analogue of the reference's sampled contiguous key
                  ranges (job_runner.ex:534-577).
    reduce phase: per-key ``reduce_fn(key, values, context)`` after
                  groupByKey, or ``combiner`` + reduceByKey when the
                  caller declares associativity (map-side combine); in
                  per-range mode, one ``reduce_fn({key: [values]},
                  context) -> [(k, v)]`` call per range partition
                  (task_executor.ex:93-132), output pairs validated
                  exactly like map output (task_executor.ex:176-211).
    """
    sc = spark.sparkContext
    map_fn = spec.map_function
    reduce_fn = spec.reduce_function
    bc_map_ctx = sc.broadcast(dict(spec.map_context))
    bc_reduce_ctx = sc.broadcast(dict(spec.reduce_context))

    store_names = [p[len(STORE_SCHEME):] for p in spec.input_files if p.startswith(STORE_SCHEME)]
    local_paths = [p for p in spec.input_files if not p.startswith(STORE_SCHEME)]
    if store_names and store is None:
        raise JobSpecError(
            f"input_files reference the file store ({store_names}) but no store= was passed"
        )

    def map_partition(lines):
        block = "\n".join(lines)
        if not block:
            return iter(())
        return iter(_validate_pairs(map_fn(block, bc_map_ctx.value), "map"))

    def map_block(row):
        # one map call per stored block (task_executor.ex:141); blocks
        # are raw bytes — text jobs should store with
        # split_on_newline=True so no record straddles two blocks (the
        # same caveat the reference's binary default carries)
        block = bytes(row.data).decode("utf-8", "replace")
        if not block:
            return iter(())
        return iter(_validate_pairs(map_fn(block, bc_map_ctx.value), "map"))

    mapped_parts = []
    if local_paths:
        mapped_parts.append(sc.textFile(",".join(local_paths)).mapPartitions(map_partition))
    for name in store_names:
        mapped_parts.append(store.blocks(name).rdd.flatMap(map_block))
    mapped = mapped_parts[0] if len(mapped_parts) == 1 else sc.union(mapped_parts)

    if spec.reduce_mode == "per_range":
        if combiner is not None:
            raise ValueError(
                "combiner= requires per-key reduce; a per-range reducer sees "
                "value LISTS, which a pre-combine would collapse"
            )
        # sortByKey's RangePartitioner samples keys and builds contiguous
        # ranges — the Spark-native form of SH1/SH2; each partition then
        # carries the reference's whole %{key => [values]} map
        grouped = mapped.groupByKey().sortByKey()

        def reduce_range_partition(items):
            pairs = {k: list(v) for k, v in items}
            if not pairs:
                return iter(())
            return iter(
                _validate_pairs(reduce_fn(pairs, bc_reduce_ctx.value), "reduce")
            )

        reduced = grouped.mapPartitions(reduce_range_partition)
    elif combiner is not None:
        reduced = mapped.reduceByKey(combiner).map(
            lambda kv: (kv[0], reduce_fn(kv[0], [kv[1]], bc_reduce_ctx.value))
        )
    else:
        reduced = mapped.groupByKey().map(
            lambda kv: (kv[0], reduce_fn(kv[0], list(kv[1]), bc_reduce_ctx.value))
        )

    # persist before the first action: isEmpty, createDataFrame's schema
    # inference, and both sinks each trigger the pipeline — without this
    # the user's map/reduce closures would re-execute up to 4x (slow, and
    # visibly wrong for non-deterministic or side-effecting reducers)
    reduced = reduced.persist()

    # ONE action (replacing a bare isEmpty) answers three questions: is
    # the result empty, are the pair types homogeneous, and which schema
    # do they give?  Homogeneity matters because a reducer may legally
    # return different value types per key (the reference JSON-encodes
    # ANY value, job_runner.ex:242-270) — and sampled schema inference
    # doesn't fail on such an RDD, it silently NULLS the rows that don't
    # match the sampled type.  Heterogeneously-typed keys/values are
    # stringified instead (None stays null); homogeneous jobs keep their
    # real types.  Same-named containers with differing element types
    # (e.g. list[int]/list[str]) still fall to inference — documented
    # limitation.  Each partition reports its own type-name set, so the
    # probe is a map-side pass with no shuffle stage of its own.
    type_pairs = set().union(
        *reduced.mapPartitions(
            lambda kvs: [{(type(k).__name__, type(v).__name__) for k, v in kvs}]
        ).collect()
    )

    def _homogeneous(names: set[str]) -> bool:
        base = names - {"NoneType"}
        return len(base) <= 1 or base <= {"int", "float"}

    def _scalar_type(names: set[str]) -> str | None:
        # the SQL type inference would pick, when the probe has already
        # seen it to be the side's only non-None type
        base = names - {"NoneType"}
        return _PROBED_SQL_TYPES.get(base.pop()) if len(base) == 1 else None

    if not type_pairs:
        # empty input -> empty result typed (string, string) — a FIXED
        # documented fallback, since no schema can be inferred from an
        # empty RDD; callers unioning across runs should supply their own
        # casts (the reference likewise emits an empty output file)
        pairs_df = spark.createDataFrame([], "key string, value string")
    else:
        key_names = {k for k, _ in type_pairs}
        val_names = {v for _, v in type_pairs}
        key_t, val_t = _scalar_type(key_names), _scalar_type(val_names)
        if key_t and val_t:
            # the schema inference would derive, without its first() job;
            # rows convert exactly as on the inferred path (no verify)
            pairs_df = spark.createDataFrame(
                reduced, f"key {key_t}, value {val_t}", verifySchema=False
            )
        else:
            key_ok, val_ok = _homogeneous(key_names), _homogeneous(val_names)
            if not (key_ok and val_ok):
                reduced = reduced.map(
                    lambda kv: (
                        kv[0] if key_ok else str(kv[0]),
                        kv[1] if val_ok else (None if kv[1] is None else str(kv[1])),
                    )
                )
            pairs_df = spark.createDataFrame(reduced, ["key", "value"])

    if spec.sort_result_opt is not None:
        # distributed sort at the DataFrame layer with the SAME tiebreak
        # convention as sinks.write_tsv_headered (secondary column always
        # ascending), so JobResult.pairs, the JSON file, and the TSV file
        # agree on tie order (the reference's Enum.sort_by leaves ties
        # nondeterministic — SURVEY.md §7.3)
        by, direction = spec.sort_result_opt
        col = F.col("key") if by == "key" else F.col("value")
        tiebreak = F.col("value") if by == "key" else F.col("key")
        primary = col.asc() if direction == "asc" else col.desc()
        pairs_df = pairs_df.orderBy(primary, tiebreak.asc())

    output_paths = None
    if spec.output_dir is not None:
        # reference result naming: <job_name>_<id>.json and
        # <job_name>_<id>_<unsorted|sorted_by_<by>_<dir>>.txt
        # (job_runner.ex:243, 274-280)
        import os

        from mini_hadoop_spark.sources.sinks import write_json_object, write_tsv_headered

        os.makedirs(spec.output_dir, exist_ok=True)
        json_path = os.path.join(spec.output_dir, f"{spec.job_name}_{spec.id}.json")
        if spec.sort_result_opt is None:
            suffix = "unsorted"
        else:
            suffix = f"sorted_by_{spec.sort_result_opt[0]}_{spec.sort_result_opt[1]}"
        tsv_path = os.path.join(spec.output_dir, f"{spec.job_name}_{spec.id}_{suffix}.txt")
        write_json_object(pairs_df, json_path)
        write_tsv_headered(pairs_df, tsv_path, sort_result_opt=spec.sort_result_opt)
        output_paths = (json_path, tsv_path)

    return JobResult(
        job_id=spec.id,
        job_name=spec.job_name,
        pairs=pairs_df,
        sort_result_opt=spec.sort_result_opt,
        output_paths=output_paths,
    )
