"""The workloads: which calls a pass makes, and how each is checked.

A pass is a list of ``Call``s.  ``invoke`` is the call into the engine's
public surface; ``finish`` consumes what it returned (a noop write for a
registry query, a collect where the benchmark checks the value).  A
call's latency is ``invoke`` plus ``finish``.

Registry subsets.  A pass that held every registered query would not fit
the benchmark's per-run time budget (one cold pass over the 100 relational
queries alone takes ~85 s on 4 cores), so each registry workload runs one
query from each module it covers: the oracled query whose warm latency
was the module's median (4 cores, the sf0.01 corpus).  Every module
that defines registered queries is covered by one of the two workloads.
The lists are frozen here rather than derived at run time, so a change
to the registry cannot silently change the workload; a renamed or
removed query fails the run.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from perfbench import check

BLOCK_SIZE = 64 * 1024
#: fixed-point PageRank's convergence tolerance (rank units of 1e-9 per
#: page): twice the module's default, so the loop stops after 5
#: iterations instead of 8 on the benchmark's graphs and the run fits
#: its time budget; each iteration does the same work either way
FIXED_POINT_TOL9 = 100_000_000

#: one query per module of operators.relational, relational_ext,
#: relational_tpch, events, temporal, skew and dq
OLAP_MIX = (
    "set_intersect", "set_union_all", "q22_idle_rich_customers",
    "events_type_pivot", "join_range_event_followups",
    "skew_heavy_hitters", "dq_expectations",
)
#: one query per module of operators.dedup, similarity, text_analysis,
#: text_scoring, compression, classifier (its first call trains the
#: hold-out model), clustering (k-means), retrieval, multimodal,
#: sampling, streaming.windowed (its first call drains the stream) and
#: workloads.parity.  For dedup it is dedup_histogram (warm 0.19 s, the
#: median 0.24 s): the median query builds the near-duplicate pair graph,
#: 5-10 s of cold pass the run's time budget has no room for.
LLM_PIPELINE = (
    "dedup_histogram", "embedding_dim_stats", "pipeline_clean_corpus",
    "vocab_coverage_curve", "bpe_merge_candidates", "classifier_holdout_confusion",
    "cluster_kmeans_topics", "dup_span_coverage", "multimodal_features",
    "split_train_val_test", "streaming_enrich_drain", "wordcount_strict",
)
WORKLOADS = ("olap_mix", "llm_pipeline")


def registry_names(workload: str) -> tuple[str, ...]:
    """The registry queries a workload's passes call."""
    return {"olap_mix": OLAP_MIX, "llm_pipeline": LLM_PIPELINE}[workload]


@dataclass
class Call:
    name: str
    layer: str  # the module the call goes into, e.g. "operators.dedup"
    invoke: Callable[[], Any]
    finish: Callable[[Any], Any]
    verify: Callable[[Any], bool] | None = None  # checks finish()'s value
    registry: bool = False  # checked against its DuckDB oracle instead


@dataclass
class Context:
    spark: Any
    inputs: dict[str, str]
    work_dir: str
    store: Any = None
    expected: dict = field(default_factory=dict)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _layer(fn) -> str:
    return fn.__module__.removeprefix("mini_hadoop_spark.")


def registry_calls(ctx: Context, names: tuple[str, ...]) -> list[Call]:
    import __spark_entry__

    queries = __spark_entry__.queries()
    sf_dir = ctx.inputs["sf_dir"]
    return [
        Call(name, _layer(queries[name]), lambda fn=queries[name]: fn(ctx.spark, sf_dir),
             _noop_write, registry=True)
        for name in names
    ]


def _collect(df):
    return df.toPandas()


def mapreduce_calls(ctx: Context, pass_no: int) -> list[Call]:
    """The reference's flow: store a binary-split and a newline-split
    file, run a MapReduce job over the stored one, write its result
    through the JSON and the TSV sink, retrieve the binary file, count
    its words with the DataFrame WordCount, and run two PageRank
    iterations and the loop-until-converged fixed-point PageRank."""
    from mini_hadoop_spark.engine.mapreduce import JobSpec, run_job
    from mini_hadoop_spark.sources.sinks import write_json_object, write_tsv_headered
    from mini_hadoop_spark.workloads.pagerank import adjacency_edges, pagerank, pagerank_fixed_point
    from mini_hadoop_spark.workloads.wordcount import word_count

    spark, store, inp, exp = ctx.spark, ctx.store, ctx.inputs, ctx.expected
    words_name, job_name = f"words_p{pass_no}", f"job_p{pass_no}"
    out_dir = os.path.join(ctx.work_dir, "outputs", f"p{pass_no}")
    state: dict[str, Any] = {}

    def store_words():
        return store.store_file(words_name, inp["words"], split_on_newline=False, block_size=BLOCK_SIZE)

    def store_job():
        return store.store_file(job_name, inp["job_input"], split_on_newline=True, block_size=BLOCK_SIZE)

    def submit():
        spec = JobSpec.create(
            job_name="perfbench_wc", input_files=[f"store://{job_name}"],
            map_function=check.wc_map, reduce_function=check.wc_reduce, store=store,
        )
        return run_job(spark, spec, store=store)

    def job_result(job):
        pdf = job.pairs.toPandas()
        # the sinks get the job's result materialized, so their time is
        # their own rather than a recomputation of the job
        state["pairs"] = spark.createDataFrame(pdf)
        return pdf

    def sink_json():
        path = os.path.join(out_dir, "wc.json")
        return path, write_json_object(state["pairs"], path)

    def sink_tsv():
        path = os.path.join(out_dir, "wc.tsv")
        return path, write_tsv_headered(state["pairs"], path)

    def retrieve():
        path = os.path.join(out_dir, "words.out")
        return path, store.retrieve_file(words_name, path)

    def df_word_count():
        return word_count(spark.read.text(inp["words"]), text_col="value")

    def pr_two():
        return pagerank(adjacency_edges(spark, inp["adjacency"]), iterations=2, damping=0.85)

    def pr_fixed_point():
        return pagerank_fixed_point(adjacency_edges(spark, inp["adjacency"]), tol9=FIXED_POINT_TOL9)

    ident = lambda x: x  # noqa: E731
    return [
        Call("store_binary", "sources.dfs", store_words, ident,
             lambda n: n == exp["binary_blocks"]),
        Call("store_newline", "sources.dfs", store_job, ident,
             lambda n: n >= exp["job_blocks_min"]),
        Call("run_job", "engine.mapreduce", submit, job_result,
             lambda pdf: _counts_equal(pdf, "key", "value", exp["shim_counts"])),
        Call("write_json", "sources.sinks", sink_json, ident,
             lambda r: _json_sink_ok(r, exp["shim_counts"])),
        Call("write_tsv", "sources.sinks", sink_tsv, ident,
             lambda r: _tsv_sink_ok(r, exp["shim_counts"])),
        Call("retrieve", "sources.dfs", retrieve, ident,
             lambda r: r[1] == exp["words_bytes"] and check.file_sha256(r[0]) == exp["words_sha"]),
        Call("word_count", "workloads.wordcount", df_word_count, _collect,
             lambda pdf: _counts_equal(pdf, "word", "cnt", exp["df_counts"])),
        Call("pagerank", "workloads.pagerank", pr_two, _collect,
             lambda pdf: check.ranks_match(dict(zip(pdf["page"], pdf["rank"])), exp["pagerank"])),
        Call("pagerank_fixed_point", "workloads.pagerank", pr_fixed_point,
             lambda r: (_collect(r[0]), r[1]),
             lambda r: r[1] == exp["fixed_point"][1]
             and dict(zip(r[0]["page"], r[0]["rank9"])) == exp["fixed_point"][0]),
    ]


def cleanup_pass(ctx: Context, pass_no: int) -> None:
    """Drop what a MapReduce pass wrote, so the next pass starts from
    the same state."""
    if ctx.store is None:
        return
    for name in ctx.store.list_files():
        ctx.store.delete_file(name)
    shutil.rmtree(os.path.join(ctx.work_dir, "outputs", f"p{pass_no}"), ignore_errors=True)


def _counts_equal(pdf, key_col: str, value_col: str, want) -> bool:
    return len(pdf) == len(want) and dict(zip(pdf[key_col], pdf[value_col])) == want


def _json_sink_ok(result, want) -> bool:
    path, count = result
    with open(path, encoding="utf-8") as f:
        return count == len(want) and json.load(f) == want


def _tsv_sink_ok(result, want) -> bool:
    path, count = result
    with open(path, encoding="utf-8") as f:
        header = f.readline()
        rows = dict(line.rstrip("\n").split("\t") for line in f)
    return (count == len(want) and header.rstrip() == f"# unsorted - Total: {count} entries"
            and {k: int(v) for k, v in rows.items()} == want)


def expected_mapreduce(inputs: dict[str, str]) -> dict:
    """Reference values for the MapReduce flow, computed once per run
    from the generated files."""
    src, dst = check.read_edges(inputs["adjacency"])
    words_bytes = os.path.getsize(inputs["words"])
    return {
        "binary_blocks": math.ceil(words_bytes / BLOCK_SIZE),
        "job_blocks_min": math.ceil(os.path.getsize(inputs["job_input"]) / BLOCK_SIZE),
        "words_bytes": words_bytes,
        "words_sha": check.file_sha256(inputs["words"]),
        "shim_counts": dict(check.shim_word_counts(inputs["job_input"])),
        "df_counts": dict(check.readme_word_counts(inputs["words"])),
        "pagerank": check.pagerank_replay(src, dst),
        "fixed_point": check.pagerank_fixed_point_replay(src, dst, tol9=FIXED_POINT_TOL9),
    }


def pass_calls(workload: str, ctx: Context, pass_no: int, rng: random.Random) -> list[Call]:
    """The calls of one pass.  Registry queries run in a seed-permuted
    order, different in every pass.  llm_pipeline starts each pass with
    the MapReduce flow, in its fixed order (each step reads what the
    previous one wrote)."""
    names = list(registry_names(workload))
    rng.shuffle(names)
    flow = mapreduce_calls(ctx, pass_no) if workload == "llm_pipeline" else []
    return flow + registry_calls(ctx, tuple(names))
