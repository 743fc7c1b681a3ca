"""Generic MapReduce shim tests — ports the reference's test corpus:

* job_spec_test.exs (1-176): validation matrix — required keys, invalid
  keys, type checks, arity normalization, sort_result_opt validation.
* word_count_test.exs (41-89): per-key reducer semantics + full
  map→shuffle→reduce integration.
* page_rank_test.exs (92-129): contribution emission, damping default,
  sum-reducer, small-graph integration.

Plus shim-vs-DataFrame equivalence (the shim must compute exactly what
the Catalyst twin computes), sink round-trips, FileStore round-trip,
and the StatusTracker info wrappers.
"""

from __future__ import annotations

import json
import os

import pytest

from mini_hadoop_spark.engine.mapreduce import JobSpec, JobSpecError, run_job


def _noop_map(block):
    return [(block[:1] or "x", 1)]


def _noop_reduce(key, values):
    return len(values)


# ---------------------------------------------------------------------------
# JobSpec validation matrix (job_spec_test.exs)
# ---------------------------------------------------------------------------

def test_jobspec_missing_required_keys():
    with pytest.raises(JobSpecError, match="Missing required keys"):
        JobSpec.create(job_name="x", input_files=[], check_files=False)


def test_jobspec_invalid_keys_rejected():
    with pytest.raises(JobSpecError, match="Invalid keys: bogus"):
        JobSpec.create(
            job_name="x", input_files=[], map_function=_noop_map,
            reduce_function=_noop_reduce, bogus=1, check_files=False,
        )


@pytest.mark.parametrize(
    "field,value,msg",
    [
        ("job_name", 42, "job_name must be a string"),
        ("input_files", "not-a-list", "input_files must be a list"),
        ("map_function", "not-fn", "map_function must be a function"),
        ("reduce_function", 3, "reduce_function must be a function"),
        ("map_context", [1], "map_context must be a map"),
        ("sort_result_opt", "key", "sort_result_opt must be a tuple"),
        ("sort_result_opt", ("key", "sideways"), "sort_result_opt must be one of"),
    ],
)
def test_jobspec_type_validation(field, value, msg):
    attrs = dict(
        job_name="x", input_files=[], map_function=_noop_map,
        reduce_function=_noop_reduce,
    )
    attrs[field] = value
    with pytest.raises(JobSpecError, match=msg):
        JobSpec.create(check_files=False, **attrs)


def test_jobspec_missing_input_file():
    with pytest.raises(JobSpecError, match="Input files do not exist"):
        JobSpec.create(
            job_name="x", input_files=["/nonexistent/nope.txt"],
            map_function=_noop_map, reduce_function=_noop_reduce,
        )


def test_jobspec_arity_normalization():
    """1-arg map fn and 2-arg reduce fn are wrapped to take context
    (job_spec.ex:161-188)."""
    spec = JobSpec.create(
        job_name="x", input_files=["dummy.txt"], map_function=_noop_map,
        reduce_function=_noop_reduce, check_files=False,
    )
    assert spec.map_function("hello", {"ignored": True}) == [("h", 1)]
    assert spec.reduce_function("k", [1, 2, 3], {"ignored": True}) == 3


def test_jobspec_rejects_empty_and_comma_paths():
    """sc.textFile takes a comma-joined list, so empty lists and paths
    containing commas must fail at SPEC time, not with an opaque runtime
    error from Hadoop path parsing."""
    with pytest.raises(JobSpecError, match="must not be empty"):
        JobSpec.create(
            job_name="x", input_files=[], map_function=_noop_map,
            reduce_function=_noop_reduce, check_files=False,
        )
    with pytest.raises(JobSpecError, match="comma-free"):
        JobSpec.create(
            job_name="x", input_files=["/data/a,b.txt"], map_function=_noop_map,
            reduce_function=_noop_reduce, check_files=False,
        )


def test_jobspec_bad_arity_rejected():
    with pytest.raises(JobSpecError, match="map function has invalid arity"):
        JobSpec.create(
            job_name="x", input_files=["dummy.txt"],
            map_function=lambda a, b, c: [], reduce_function=_noop_reduce,
            check_files=False,
        )


# ---------------------------------------------------------------------------
# WordCount through the shim (word_count_test.exs semantics)
# ---------------------------------------------------------------------------

def test_wordcount_reducer_per_key():
    """word_count_test.exs:41-46: {'word', [1,1,1,1]} -> 4; non-integer
    values are filtered (word_count.ex:133-147)."""
    from mini_hadoop_spark.engine.examples import word_count_reducer

    assert word_count_reducer("word", [1, 1, 1, 1], {}) == 4
    assert word_count_reducer("word", [1, "junk", 2], {}) == 3


def test_wordcount_mapper_case_fold_and_punct():
    """word_count_test.exs case folding + punctuation stripping."""
    from mini_hadoop_spark.engine.examples import word_count_mapper

    out = dict(word_count_mapper("The THE the, cat! cat?", {}))
    assert out == {"the": 3, "cat": 2}


def test_wordcount_mapper_empty_block():
    from mini_hadoop_spark.engine.examples import word_count_mapper

    assert word_count_mapper("", {}) == []


def test_wordcount_shim_matches_dataframe(spark, tmp_path):
    """The shim's WordCount must equal the Catalyst WordCount on the
    same text (integration, word_count_test.exs:66-89 style)."""
    from mini_hadoop_spark.engine.examples import word_count_submit_job
    from mini_hadoop_spark.workloads.wordcount import word_count

    text = "spark shuffles the hash join\nthe join the shuffle\n\nhash HASH"
    p = tmp_path / "input.txt"
    p.write_text(text)

    result = word_count_submit_job(spark, [str(p)], sort_desc_by_count=False)
    shim = dict(result.collect_pairs())

    docs = spark.createDataFrame([(text,)], ["text"])
    df = {r.word: r.cnt for r in word_count(docs).collect()}
    assert shim == df


def test_wordcount_shim_sorted_output(spark, tmp_path):
    from mini_hadoop_spark.engine.examples import word_count_submit_job

    p = tmp_path / "input.txt"
    p.write_text("b b b a a c")
    result = word_count_submit_job(spark, [str(p)], sort_desc_by_count=True)
    pairs = result.collect_pairs()
    counts = [v for _, v in pairs]
    assert counts == sorted(counts, reverse=True)
    assert pairs[0] == ("b", 3)


# ---------------------------------------------------------------------------
# Per-range reduce (the engine-actual calling convention,
# task_executor.ex:93-132: one call per range partition with the whole
# %{key => [values]} map)
# ---------------------------------------------------------------------------

def test_per_range_reduce_matches_per_key(spark, tmp_path):
    """A per-range wordcount reducer (whole-map contract) must produce
    exactly the per-key reducer's result."""
    from mini_hadoop_spark.engine.examples import word_count_mapper

    p = tmp_path / "input.txt"
    p.write_text("b b b a a c\nc a range range")

    def range_reducer(pairs):  # arity-1: context-free engine contract
        return [(k, sum(v for v in vals if isinstance(v, int))) for k, vals in pairs.items()]

    per_range = run_job(
        spark,
        JobSpec.create(
            job_name="wc_range", input_files=[str(p)],
            map_function=word_count_mapper,
            reduce_function=range_reducer,
            reduce_mode="per_range",
        ),
    )
    per_key = run_job(
        spark,
        JobSpec.create(
            job_name="wc_key", input_files=[str(p)],
            map_function=word_count_mapper,
            reduce_function=lambda k, vals: sum(v for v in vals if isinstance(v, int)),
        ),
    )
    assert dict(per_range.collect_pairs()) == dict(per_key.collect_pairs())
    assert dict(per_range.collect_pairs()) == {"b": 3, "a": 3, "c": 2, "range": 2}


def test_per_range_reducer_sees_whole_partition_map(spark, tmp_path):
    """The reducer may emit pairs derived from CROSS-key state — only
    possible under the whole-map contract (a per-key reducer cannot see
    sibling keys).  Emitting one (key, rank-within-partition) pair per
    key exercises exactly that."""
    p = tmp_path / "input.txt"
    p.write_text("a b c d")

    def range_reducer(pairs, _ctx):
        # rank keys within the partition — needs the whole map
        ordered = sorted(pairs)
        return [(k, {"rank": i, "siblings": len(ordered)}) for i, k in enumerate(ordered)]

    result = run_job(
        spark,
        JobSpec.create(
            job_name="xkey", input_files=[str(p)],
            map_function=lambda block: [(w, 1) for w in block.split()],
            reduce_function=range_reducer,
            reduce_mode="per_range",
        ),
    )
    got = dict(result.collect_pairs())
    assert set(got) == {"a", "b", "c", "d"}
    # every key got a rank < its partition's sibling count
    for v in got.values():
        assert v["rank"] < v["siblings"]


def test_per_range_reduce_validates_output_pairs(spark, tmp_path):
    """Per-range output passes the same list-of-pairs validation as map
    output (task_executor.ex:176-211)."""
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "input.txt"
    p.write_text("x y")
    spec = JobSpec.create(
        job_name="bad", input_files=[str(p)],
        map_function=lambda block: [(w, 1) for w in block.split()],
        reduce_function=lambda pairs: {"not": "a list"},
        reduce_mode="per_range",
    )
    with pytest.raises(Py4JJavaError, match="must return a list"):
        run_job(spark, spec)


def test_per_range_rejects_combiner_and_bad_mode(tmp_path):
    p = tmp_path / "input.txt"
    p.write_text("x")
    with pytest.raises(JobSpecError, match="reduce_mode must be"):
        JobSpec.create(
            job_name="x", input_files=[str(p)],
            map_function=_noop_map, reduce_function=lambda pairs: [],
            reduce_mode="per_partition",
        )
    with pytest.raises(JobSpecError, match="per-range reduce function has invalid arity"):
        JobSpec.create(
            job_name="x", input_files=[str(p)],
            map_function=_noop_map, reduce_function=lambda a, b, c: [],
            reduce_mode="per_range",
        )


def test_per_range_combiner_conflict(spark, tmp_path):
    p = tmp_path / "input.txt"
    p.write_text("x y x")
    spec = JobSpec.create(
        job_name="x", input_files=[str(p)],
        map_function=lambda block: [(w, 1) for w in block.split()],
        reduce_function=lambda pairs: [(k, sum(v)) for k, v in pairs.items()],
        reduce_mode="per_range",
    )
    with pytest.raises(ValueError, match="combiner= requires per-key reduce"):
        run_job(spark, spec, combiner=lambda a, b: a + b)


# ---------------------------------------------------------------------------
# PageRank through the shim (page_rank_test.exs semantics)
# ---------------------------------------------------------------------------

GRAPH = "a\tb c\nb\tc\nc\t\n"  # a->b, a->c, b->c; c dangling


def test_pagerank_mapper_contributions():
    """page_rank_test.exs:92-129: baseline per source line + damped
    contribution per target; dangling only the baseline; rank default
    1.0 (page_rank.ex:56)."""
    from mini_hadoop_spark.engine.examples import pagerank_mapper

    out = pagerank_mapper(GRAPH, {"damping": 0.85, "total_pages": 3, "ranks": {}})
    baseline = pytest.approx((1.0 - 0.85) / 3)
    assert ("a", baseline) in out
    assert ("b", pytest.approx(0.85 / 2)) in out  # from a, deg 2
    assert ("c", pytest.approx(0.85 / 2)) in out  # from a
    assert ("c", pytest.approx(0.85 / 1)) in out  # from b, deg 1
    # dangling c contributes nothing beyond its baseline
    assert sum(1 for k, _ in out if k == "c") == 3  # baseline + 2 contribs


def test_adjacency_edges_parsing(spark, tmp_path):
    """adjacency_edges parses the reference's TSV shape (``src\\tt1 t2
    ...``): space-separated targets explode to one edge each; blank
    lines and stray spacing are ignored."""
    from mini_hadoop_spark.workloads.pagerank import adjacency_edges

    p = tmp_path / "adj.tsv"
    p.write_text("0\t2\n10\t11 12  13\n\n7\t8\n")
    edges = sorted(map(tuple, adjacency_edges(spark, str(p)).collect()))
    assert edges == [(0, 2), (7, 8), (10, 11), (10, 12), (10, 13)]


def test_generate_adjacency_file_shape(tmp_path):
    """bench_parity.generate_adjacency_file reproduces the reference's
    stripped 227k input SHAPE exactly at a scaled-down size: exact
    distinct-node and distinct-edge counts, the 41k file's ~96.9% source
    share (the remainder are DANGLING pure-target nodes — the
    page_rank.ex:70-73 semantics the graph must exercise), no
    self-loops, and the reference's line format."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench_parity import generate_adjacency_file

    p = tmp_path / "adj.tsv"
    generate_adjacency_file(str(p), n_nodes=2000, n_edges=9000, seed=11)
    nodes, edges, srcs = set(), set(), set()
    for line in p.read_text().splitlines():
        src_s, tgts_s = line.split("\t")
        src = int(src_s)
        srcs.add(src)
        nodes.add(src)
        tgts = [int(t) for t in tgts_s.split()]
        assert src not in tgts  # no self-loops
        for t in tgts:
            edges.add((src, t))
            nodes.add(t)
    assert len(nodes) == 2000
    assert len(edges) == 9000
    assert 0 < len(nodes) - len(srcs) < 0.05 * len(nodes)  # dangling share ~3.1%
    # determinism: same seed -> byte-identical file
    p2 = tmp_path / "adj2.tsv"
    generate_adjacency_file(str(p2), n_nodes=2000, n_edges=9000, seed=11)
    assert p.read_bytes() == p2.read_bytes()


def test_pagerank_shim_matches_dataframe(spark, tmp_path):
    """Two shim iterations == two DataFrame iterations on the same
    graph (threading ranks via the context, mini_hadoop.ex:53-73)."""
    from mini_hadoop_spark.engine.examples import page_rank_iter_submit_job
    from mini_hadoop_spark.workloads.pagerank import pagerank

    # no dangling SOURCE LINES here: the reference gives an adjacency
    # line like "c\t" a baseline (page_rank.ex:70-73) but an edge-list
    # DataFrame cannot represent "source with zero targets" — c stays a
    # destination-only page in both versions
    p = tmp_path / "graph.tsv"
    p.write_text("a\tb c\nb\tc\n")

    it1 = page_rank_iter_submit_job(spark, [str(p)], total_pages=3)
    ranks1 = dict(it1.collect_pairs())
    it2 = page_rank_iter_submit_job(spark, [str(p)], ranks=ranks1, total_pages=3)
    shim = dict(it2.collect_pairs())

    edges = spark.createDataFrame([("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"])
    df = {r.page: r.rank for r in pagerank(edges, iterations=2, total_pages=3).collect()}
    assert set(shim) == set(df)
    for k in df:
        assert shim[k] == pytest.approx(df[k], rel=1e-12)


def test_pagerank_deep_iteration_checkpoint_parity(spark, tmp_path):
    """7 iterations cross the checkpoint_every=5 lineage truncation; the
    checkpointed run (both local and reliable) must produce exactly the
    ranks of an uncheckpointed run — truncation is a physical-plan
    concern, never a semantic one."""
    from mini_hadoop_spark.workloads.pagerank import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], ["src", "dst"]
    )

    def ranks(**kw):
        return {
            r.page: round(r.rank, 10)
            for r in pagerank(edges, iterations=7, total_pages=4, **kw).collect()
        }

    plain = ranks(checkpoint_every=100)  # never truncates
    local_ckpt = ranks(checkpoint_every=5)
    assert local_ckpt == plain

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    reliable = ranks(checkpoint_every=5, reliable_checkpoint=True)
    assert reliable == plain


def test_pagerank_convergence_helper(spark):
    from mini_hadoop_spark.workloads.pagerank import converged, pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    r10 = pagerank(edges, iterations=10, total_pages=2)
    r11 = pagerank(edges, iterations=11, total_pages=2)
    # delta_n = 0.075 * 0.85^n for the 2-cycle -> delta_10 ~ 0.0148
    assert converged(r10, r11, tolerance=0.02)
    r1 = pagerank(edges, iterations=1, total_pages=2)
    r2 = pagerank(edges, iterations=2, total_pages=2)
    assert not converged(r1, r2, tolerance=1e-12)


def test_pagerank_converged_iteration_count_pinned(spark):
    """The fixed-point convergence loop must stop at an ENGINE-
    DETERMINISTIC iteration: k=8 on the lineitem graph at the test SFs
    (measured in r12 — delta decays by ~the damping factor per round,
    so the mean-|delta| < 0.05 rule lands at 8 across sf0.001/0.01/0.1).
    Also pins the fixed-point contract: every rank is a BIGINT in 1e-9
    units, and the query's iters column equals the loop's stop round."""
    from mini_hadoop_spark.workloads.parity import (
        PAGERANK_CONV_MAX_ITERS,
        pagerank_converged_query,
    )
    from tests.conftest import SF_DIR

    rows = pagerank_converged_query(spark, SF_DIR).collect()
    iters = {r.iters for r in rows}
    assert iters == {8}, f"stop iteration moved: {iters}"
    assert 8 < PAGERANK_CONV_MAX_ITERS  # oracle unroll has headroom
    assert all(isinstance(r.rank_fp9, int) for r in rows[:5])
    # convergence is real: one more fixed-point round moves the mean
    # rank by < 0.05 units (re-derive round 9 and compare)
    from mini_hadoop_spark.workloads.pagerank import pagerank_fixed_point
    from mini_hadoop_spark.workloads.parity import _lineitem_edges

    r9, k9 = pagerank_fixed_point(
        _lineitem_edges(spark, SF_DIR), tol9=1, max_iters=9
    )
    assert k9 == 9  # tol=1e-9 units never converges by round 9
    by_page = {r.page: r.rank_fp9 for r in rows}
    drift = [abs(r.rank9 - by_page[r.page]) for r in r9.collect()]
    assert sum(drift) / len(drift) < 50_000_000


def test_pagerank_fixed_point_one_page(spark):
    """A one-page graph (a self-loop) keeps all rank on its page:
    teleport 0.15 + the loop's 0.85, unchanged from round 1, so the
    loop stops at the first convergence test."""
    from mini_hadoop_spark.workloads.pagerank import pagerank_fixed_point

    ranks, k = pagerank_fixed_point(spark.createDataFrame([(1, 1)], "src long, dst long"))
    assert [tuple(r) for r in ranks.collect()] == [(1, 1_000_000_000)]
    assert k == 2


def test_pagerank_fixed_point_empty_graph(spark):
    from mini_hadoop_spark.workloads.pagerank import pagerank_fixed_point

    ranks, k = pagerank_fixed_point(spark.createDataFrame([], "src long, dst long"))
    assert ranks.collect() == [] and k == 0
    assert ranks.schema.simpleString() == "struct<page:bigint,rank9:bigint>"


def test_run_job_empty_input(spark, tmp_path):
    """Empty input must yield an empty result, not a schema-inference
    crash (found by an empty-file probe)."""
    from mini_hadoop_spark.engine.examples import word_count_submit_job

    p = tmp_path / "empty.txt"
    p.write_text("")
    result = word_count_submit_job(spark, [str(p)], sort_desc_by_count=False)
    assert result.collect_pairs() == []


def _run_typed_job(spark, tmp_path, text, mapper, reducer):
    p = tmp_path / "typed.txt"
    p.write_text(text)
    spec = JobSpec.create(
        job_name="typed", input_files=[str(p)], map_function=mapper, reduce_function=reducer
    )
    pairs = run_job(spark, spec).pairs
    return pairs.schema.simpleString(), sorted(tuple(r) for r in pairs.collect())


def test_run_job_bool_values_typed_boolean(spark, tmp_path):
    """One non-None value type -> the schema comes from the type probe;
    bool stays BOOLEAN (not its int superclass)."""
    got = _run_typed_job(
        spark, tmp_path, "a b b c c c\n",
        lambda block, ctx: [(w, 1) for w in block.split()],
        lambda k, vs, ctx: len(vs) % 2 == 1,
    )
    assert got == (
        "struct<key:string,value:boolean>",
        [("a", True), ("b", False), ("c", True)],
    )


def test_run_job_none_bearing_int_values(spark, tmp_path):
    """int values with Nones type as BIGINT with the Nones kept null,
    whichever row comes first."""
    got = _run_typed_job(
        spark, tmp_path, "0 1 1 2 2 2 3\n",
        lambda block, ctx: [(int(w), 1) for w in block.split()],
        lambda k, vs, ctx: None if k % 2 == 0 else len(vs),
    )
    assert got == (
        "struct<key:bigint,value:bigint>",
        [(0, None), (1, 2), (2, None), (3, 1)],
    )


def test_run_job_int_float_mix_keeps_inference(spark, tmp_path):
    """An int+float value mix is not one probed type: the schema is
    still inferred from the first row, so the sampled type wins and the
    other type's values come back null (the documented sampling
    behaviour the type probe does not change).  Integer keys hash to
    themselves, so key 0 lands in the first reduce partition and its
    row is the one inference samples."""
    got = _run_typed_job(
        spark, tmp_path, "0 1\n",
        lambda block, ctx: [(int(w), 1) for w in block.split()],
        lambda k, vs, ctx: 7 if k == 0 else 2.5,
    )
    assert got == ("struct<key:bigint,value:bigint>", [(0, 7), (1, None)])


def test_run_job_list_values_fall_back_to_inference(spark, tmp_path):
    """Container values are not probed scalars: inference types them."""
    got = _run_typed_job(
        spark, tmp_path, "a b b\n",
        lambda block, ctx: [(w, 1) for w in block.split()],
        lambda k, vs, ctx: [len(vs), 0],
    )
    assert got == (
        "struct<key:string,value:array<bigint>>",
        [("a", [1, 0]), ("b", [2, 0])],
    )


# ---------------------------------------------------------------------------
# Sinks (job_runner.ex:242-323 round trips)
# ---------------------------------------------------------------------------

def test_write_json_object_roundtrip(spark, tmp_path):
    from mini_hadoop_spark.sources.sinks import write_json_object

    pairs = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["key", "value"])
    path = str(tmp_path / "out.json")
    n = write_json_object(pairs, path)
    assert n == 3
    with open(path) as f:
        assert json.load(f) == {"a": 1, "b": 2, "c": 3}


def test_write_tsv_headered_unsorted(spark, tmp_path):
    from mini_hadoop_spark.sources.sinks import write_tsv_headered

    pairs = spark.createDataFrame([("a", 1), ("b", 2)], ["key", "value"])
    path = str(tmp_path / "out.txt")
    n = write_tsv_headered(pairs, path)
    assert n == 2
    lines = open(path).read().splitlines()
    assert lines[0].startswith("# unsorted - Total: 2 entries")
    assert len(lines[0]) == 50  # reference's padded header width
    assert sorted(lines[1:]) == ["a\t1", "b\t2"]


def test_write_tsv_headered_sorted_by_value_desc(spark, tmp_path):
    from mini_hadoop_spark.sources.sinks import write_tsv_headered

    pairs = spark.createDataFrame([("a", 1), ("b", 3), ("c", 2)], ["key", "value"])
    path = str(tmp_path / "out.txt")
    write_tsv_headered(pairs, path, sort_result_opt=("value", "desc"))
    lines = open(path).read().splitlines()
    assert lines[0].startswith("# sorted by value desc - Total: 3 entries")
    assert lines[1:] == ["b\t3", "c\t2", "a\t1"]


# ---------------------------------------------------------------------------
# FileStore (mini_hadoop.ex:6-16 round trip)
# ---------------------------------------------------------------------------

def test_run_job_output_dir_writes_reference_named_files(spark, tmp_path):
    """output_dir set -> JSON + headered-TSV results land with the
    reference's naming (<job_name>_<id>.json /
    _<unsorted|sorted_by_<by>_<dir>>.txt, job_runner.ex:243,274-280)
    and round-trip the pairs."""
    import json

    from mini_hadoop_spark.engine import JobSpec, run_job

    inp = tmp_path / "in.txt"
    inp.write_text("b b a c b\n")
    out = tmp_path / "results"
    spec = JobSpec.create(
        job_name="wc",
        input_files=[str(inp)],
        output_dir=str(out),
        map_function=lambda block, _c: [(w, 1) for w in block.split()],
        reduce_function=lambda k, vs, _c: sum(vs),
        sort_result_opt=("value", "desc"),
    )
    res = run_job(spark, spec)
    json_path, tsv_path = res.output_paths
    assert json_path.endswith(f"wc_{spec.id}.json")
    assert tsv_path.endswith(f"wc_{spec.id}_sorted_by_value_desc.txt")
    assert json.load(open(json_path)) == {"a": 1, "b": 3, "c": 1}
    lines = open(tsv_path).read().splitlines()
    assert lines[0].startswith("# sorted by value desc - Total: 3 entries")
    assert lines[1:] == ["b\t3", "a\t1", "c\t1"]


def test_run_job_heterogeneous_values_fall_back_to_strings(spark, tmp_path):
    """A reducer may return different value types per key (the reference
    JSON-encodes anything); schema inference can't type that, so run_job
    must fall back to stringified values instead of erroring."""
    from mini_hadoop_spark.engine import JobSpec, run_job

    inp = tmp_path / "in.txt"
    inp.write_text("a b\n")
    spec = JobSpec.create(
        job_name="hetero",
        input_files=[str(inp)],
        map_function=lambda block, _c: [(w, 1) for w in block.split()],
        # key 'a' -> int, key 'b' -> list: unmergeable inferred types
        reduce_function=lambda k, vs, _c: sum(vs) if k == "a" else list(vs),
    )
    got = dict(run_job(spark, spec).collect_pairs())
    assert got == {"a": "1", "b": "[1]"}


def test_distributed_writers_roundtrip(spark, tmp_path):
    """Multi-file committer sinks: JSON-lines and TSV outputs must read
    back to exactly the written rows (one file per partition is the
    100 TB-path contract; the single-file object sinks are for final
    results only)."""
    from mini_hadoop_spark.sources.sinks import (
        write_json_distributed,
        write_tsv_distributed,
    )

    df = spark.range(0, 100).selectExpr("concat('k', id) AS key", "id AS value").repartition(4)

    jpath = str(tmp_path / "dist_json")
    write_json_distributed(df, jpath)
    back = spark.read.json(jpath)
    assert {(r.key, r.value) for r in back.collect()} == {(f"k{i}", i) for i in range(100)}

    tpath = str(tmp_path / "dist_tsv")
    write_tsv_distributed(df, tpath)
    back = spark.read.option("sep", "\t").csv(tpath).toDF("key", "value")
    assert {(r.key, int(r.value)) for r in back.collect()} == {(f"k{i}", i) for i in range(100)}


def test_filestore_roundtrip(spark, tmp_path):
    """Byte-identical round-trip in the default binary mode — including
    a file with NO trailing newline (the old line-oriented store
    invented one)."""
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "src.txt"
    content = b"line one\nline two\nline three"
    src.write_bytes(content)

    n_blocks = store.store_file("f1", str(src), block_size=10)
    assert n_blocks == (len(content) + 9) // 10
    assert store.exists("f1")
    assert store.list_files() == ["f1"]
    with pytest.raises(FileExistsError):
        store.store_file("f1", str(src))

    dest = tmp_path / "dest.txt"
    assert store.retrieve_file("f1", str(dest)) == len(content)
    assert dest.read_bytes() == content

    assert store.delete_file("f1")
    assert not store.exists("f1")
    assert store.delete_file("f1") is False


def test_filestore_binary_non_utf8_roundtrip(spark, tmp_path):
    """The reference's DEFAULT store path chunks arbitrary binary at
    block_size (file_operation.ex:185) — non-UTF-8 bytes must survive."""
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "blob.bin"
    # every byte value, repeated — invalid UTF-8, embedded newlines/NULs
    content = bytes(range(256)) * 300
    src.write_bytes(content)

    n_blocks = store.store_file("blob", str(src), block_size=1000)
    assert n_blocks == (len(content) + 999) // 1000
    dest = tmp_path / "blob_out.bin"
    assert store.retrieve_file("blob", str(dest)) == len(content)
    assert dest.read_bytes() == content


def test_filestore_newline_mode_line_aligned(spark, tmp_path):
    """split_on_newline=True accumulates whole lines per block
    (file_operation.ex:159-183): no line straddles two blocks, an
    oversized line becomes its own block, round-trip stays
    byte-identical."""
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "lines.txt"
    lines = [b"a" * 8 + b"\n", b"b" * 8 + b"\n", b"X" * 50 + b"\n", b"tail-no-newline"]
    content = b"".join(lines)
    src.write_bytes(content)

    store.store_file("lf", str(src), split_on_newline=True, block_size=20)
    rows = sorted(
        spark.read.parquet(str(tmp_path / "warehouse" / "lf")).collect(),
        key=lambda r: r.block_idx,
    )
    blocks = [bytes(r.data) for r in rows]
    # each block is a concatenation of COMPLETE lines
    for b in blocks[:-1]:
        assert b.endswith(b"\n")
    # the 51-byte line exceeds block_size yet is one unbroken block
    assert any(b == b"X" * 50 + b"\n" for b in blocks)
    dest = tmp_path / "lines_out.txt"
    store.retrieve_file("lf", str(dest))
    assert dest.read_bytes() == content
    # text-mode line count: 3 newline-terminated + 1 unterminated tail
    dest2 = tmp_path / "lines_out2.txt"
    assert store.retrieve_text("lf", str(dest2)) == 4


def test_filestore_empty_file(spark, tmp_path):
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "empty"
    src.write_bytes(b"")
    assert store.store_file("e", str(src)) == 0
    dest = tmp_path / "empty_out"
    assert store.retrieve_file("e", str(dest)) == 0
    assert dest.read_bytes() == b""
    assert store.file_info("e")["n_lines"] == 0


def test_filestore_block_count_over_part_files(spark, tmp_path):
    """store_file's block count is read from the written part files'
    footers: it must equal the rows Spark reads back, summed over every
    part file of a multi-block, multi-part binary store."""
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "multi.bin"
    content = bytes(range(256)) * 41  # 10,496 bytes: 21 blocks, last partial
    src.write_bytes(content)

    n_blocks = store.store_file("multi", str(src), block_size=500)
    path = tmp_path / "warehouse" / "multi"
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) > 1
    assert n_blocks == 21 == spark.read.parquet(str(path)).count()
    assert store.file_info("multi")["n_blocks"] == n_blocks


def test_filestore_async_progress(spark, tmp_path):
    """file_op_info parity (file_operation.ex:48-50, 91-118): an async
    store exposes phase + processed/total MID-FLIGHT, then completes.
    The phase callback is the deterministic observation point."""
    import time

    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "big.bin"
    src.write_bytes(b"x" * (64 * 1024))

    seen = []

    def on_phase(p):
        # called from the worker thread while the op is in flight
        ops = [store.file_op_info(i) for i in range(1, store._next_op_id)]
        mine = [o for o in ops if o["filename"] == "big" and o["kind"] == "store"]
        seen.append((p, mine[-1]["state"], mine[-1]["phase"]))

    op_id = store.store_file_async("big", str(src), block_size=1024, _on_phase=on_phase)
    deadline = time.time() + 120
    while time.time() < deadline:
        info = store.file_op_info(op_id)
        if info["state"] in ("completed", "failed"):
            break
        time.sleep(0.1)
    assert info["state"] == "completed"
    assert info["processed"] == info["total"] == 64
    # in-progress observations: the op was pollable as "running" with a
    # live phase before completion
    assert ("calculating blocks", "running", "calculating blocks") in seen
    assert ("storing blocks", "running", "storing blocks") in seen


def test_run_job_over_store_file(spark, tmp_path):
    """The reference's ACTUAL job flow: store_file → submit_job over the
    DFS filename (mini_hadoop.ex:18-32).  store://name inputs read the
    block table, one map call per BLOCK (task_executor.ex:141)."""
    from mini_hadoop_spark.engine.examples import word_count_mapper, word_count_reducer
    from mini_hadoop_spark.engine.mapreduce import JobSpec, run_job
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "input.txt"
    text = "spark shuffles the hash join\nthe join the shuffle\nhash HASH\n"
    src.write_text(text)
    store.store_file("wc_in", str(src), split_on_newline=True, block_size=30)
    assert store.file_info("wc_in")["n_blocks"] > 1  # actually multi-block

    spec = JobSpec.create(
        job_name="wc_store",
        input_files=["store://wc_in"],
        map_function=word_count_mapper,
        reduce_function=word_count_reducer,
    )
    result = run_job(spark, spec, store=store)
    got = dict(result.collect_pairs())
    assert got == {"spark": 1, "shuffles": 1, "the": 3, "hash": 3, "join": 2, "shuffle": 1}


def test_run_job_store_block_granularity(spark, tmp_path):
    """Exactly one map call per stored block — the whole-block contract
    the per-partition local-path approximation can't guarantee."""
    from mini_hadoop_spark.engine.mapreduce import JobSpec, run_job
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "in.txt"
    src.write_bytes(b"a\n" * 50)
    n_blocks = store.store_file("g", str(src), split_on_newline=True, block_size=10)

    spec = JobSpec.create(
        job_name="block_count",
        input_files=["store://g"],
        map_function=lambda block, ctx: [("map_calls", 1)],
        reduce_function=lambda key, values, ctx: sum(values),
    )
    got = dict(run_job(spark, spec, store=store).collect_pairs())
    assert got == {"map_calls": n_blocks}


def test_run_job_mixed_store_and_local(spark, tmp_path):
    from mini_hadoop_spark.engine.examples import word_count_mapper, word_count_reducer
    from mini_hadoop_spark.engine.mapreduce import JobSpec, run_job
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    s1 = tmp_path / "a.txt"
    s1.write_text("alpha beta\n")
    store.store_file("a", str(s1), split_on_newline=True)
    local = tmp_path / "b.txt"
    local.write_text("beta gamma\n")

    spec = JobSpec.create(
        job_name="wc_mixed",
        input_files=["store://a", str(local)],
        map_function=word_count_mapper,
        reduce_function=word_count_reducer,
    )
    got = dict(run_job(spark, spec, store=store).collect_pairs())
    assert got == {"alpha": 1, "beta": 2, "gamma": 1}


def test_run_job_store_input_requires_store(spark, tmp_path):
    from mini_hadoop_spark.engine.mapreduce import JobSpec, JobSpecError, run_job

    spec = JobSpec.create(
        job_name="no_store",
        input_files=["store://missing"],
        map_function=lambda b, c: [],
        reduce_function=lambda k, v, c: 0,
    )
    with pytest.raises(JobSpecError, match="no store"):
        run_job(spark, spec)


def test_jobspec_validates_store_inputs_at_spec_time(spark, tmp_path):
    """With store= the spec check mirrors the reference's DFS filename
    validation (job_spec.ex:61-69): unknown store files fail create()."""
    from mini_hadoop_spark.engine.mapreduce import JobSpec, JobSpecError
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    src = tmp_path / "x.txt"
    src.write_text("data\n")
    store.store_file("present", str(src))

    spec = JobSpec.create(
        job_name="ok",
        input_files=["store://present"],
        map_function=lambda b, c: [],
        reduce_function=lambda k, v, c: 0,
        store=store,
    )
    assert spec.input_files == ["store://present"]
    with pytest.raises(JobSpecError, match="do not exist"):
        JobSpec.create(
            job_name="bad",
            input_files=["store://absent"],
            map_function=lambda b, c: [],
            reduce_function=lambda k, v, c: 0,
            store=store,
        )


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Many tiny part files compact to the byte-sized target count with
    identical data; the swap leaves no temp/old directories behind."""
    import os

    from mini_hadoop_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before >= 32

    stats = compact_parquet(spark, path, target_file_bytes=10**9)
    assert stats["files_before"] == before
    assert stats["files_after"] == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(v)").collect()[0][0] == 2 * sum(range(10_000))
    assert not os.path.exists(path + "._compact_tmp")
    assert not os.path.exists(path + "._compact_old")


def test_filestore_store_failure_recorded(spark, tmp_path):
    from mini_hadoop_spark.sources.dfs import FileStore

    store = FileStore(spark, str(tmp_path / "warehouse"))
    with pytest.raises(FileNotFoundError):
        store.store_file("nope", str(tmp_path / "missing.txt"))
    infos = [store.file_op_info(i) for i in range(1, store._next_op_id)]
    mine = [o for o in infos if o["filename"] == "nope"]
    assert mine and mine[-1]["state"] == "failed" and mine[-1]["error"]


# ---------------------------------------------------------------------------
# Info API (mini_hadoop.ex:75-109)
# ---------------------------------------------------------------------------

def test_filestore_file_info(spark, tmp_path):
    from mini_hadoop_spark.sources.dfs import FileStore

    src = tmp_path / "f.txt"
    src.write_text("one\ntwo\nthree\n")
    fs = FileStore(spark, str(tmp_path / "store"))
    fs.store_file("f", str(src))
    info = fs.file_info("f")
    assert info["filename"] == "f"
    assert info["n_lines"] == 3
    assert info["n_blocks"] >= 1
    assert info["content_bytes"] == len("one\ntwo\nthree\n")
    assert info["total_bytes"] > 0
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        fs.file_info("missing")


def test_filestore_file_info_no_trailing_newline(spark, tmp_path):
    from mini_hadoop_spark.sources.dfs import FileStore

    src = tmp_path / "g.txt"
    src.write_bytes(b"one\ntwo\nthree")  # unterminated final line
    fs = FileStore(spark, str(tmp_path / "store"))
    fs.store_file("g", str(src), block_size=5)
    assert fs.file_info("g")["n_lines"] == 3


def test_cluster_info_shape(spark):
    from mini_hadoop_spark.engine.info import cluster_info

    info = cluster_info(spark)
    assert info["master"].startswith("local[")
    assert info["default_parallelism"] >= 1
    assert info["uptime_sec"] >= 0


def test_job_info_after_job(spark):
    from mini_hadoop_spark.engine.info import job_info

    spark.range(1000).selectExpr("sum(id)").collect()
    tracker = spark.sparkContext.statusTracker()
    ids = tracker.getJobIdsForGroup(None) or []
    assert ids, "expected at least one tracked job"
    info = job_info(spark, max(ids))
    assert info["status"] in ("SUCCEEDED", "RUNNING", "unknown")
    if info["stages"]:
        assert info["progress_pct"] >= 0


# ---------------------------------------------------------------------------
# wordcount staging hygiene (ADVICE r14: per-uid scoping, ownership trust
# gate, mtime liveness, live-stage sweep exemption)
# ---------------------------------------------------------------------------

def test_mr_wordcount_stage_dir_is_per_user_and_corpus():
    import os

    from mini_hadoop_spark.workloads import parity as P

    d1 = P._mr_wordcount_stage_dir("/some/sf0.1")
    d2 = P._mr_wordcount_stage_dir("/some/sf0.01")
    uid = getattr(os, "getuid", lambda: 0)()
    assert f"_u{uid}_" in os.path.basename(d1), "uid must scope the staging path"
    assert d1 != d2, "different corpora must stage separately"
    assert d1 == P._mr_wordcount_stage_dir("/some/sf0.1"), "path must be deterministic"


def test_mr_wordcount_sweep_exempts_live_stages(tmp_path, monkeypatch):
    """A stage dir registered as live in THIS process must survive the
    sweep even with an ancient mtime; an unregistered stale dir with the
    same prefix is reclaimed."""
    import os
    import tempfile as _tf

    from mini_hadoop_spark.workloads import parity as P

    monkeypatch.setattr(_tf, "gettempdir", lambda: str(tmp_path))
    live = tmp_path / "mr_wordcount_u0_live00000000"
    dead = tmp_path / "mr_wordcount_u0_dead00000000"
    live.mkdir()
    dead.mkdir()
    ancient = 1_000_000.0  # 1970s — far past every sweep gate
    os.utime(live, (ancient, ancient))
    os.utime(dead, (ancient, ancient))
    monkeypatch.setattr(P, "_mr_wc_live_stages", {str(live)})
    P._sweep_stale_mr_wordcount()
    assert live.is_dir(), "live stage swept despite exemption"
    assert not dead.exists(), "stale unregistered stage not reclaimed"


def test_mr_wordcount_refuses_foreign_staging(monkeypatch, tmp_path):
    """If a dir exists at our deterministic path but belongs to another
    uid (squatting on a shared /tmp), the build must refuse loudly
    instead of reading foreign text."""
    import os

    import pytest as _pytest

    from mini_hadoop_spark.workloads import parity as P

    stage = tmp_path / "stage"
    (stage / "docs_txt").mkdir(parents=True)
    monkeypatch.setattr(P, "_mr_wordcount_stage_dir", lambda sf: str(stage))
    monkeypatch.setattr(P, "_stage_owned_by_me", lambda p: False)

    class _FakeSC:
        applicationId = "test-app"

    class _FakeSpark:
        sparkContext = _FakeSC()

    with _pytest.raises(RuntimeError, match="not owned"):
        P.mapreduce_wordcount_query(_FakeSpark(), "/nonexistent/sf")


def test_mr_wordcount_memo_hit_touches_mtime(spark, monkeypatch):
    """ADVICE r14: a long-lived session that only HITS the memo must
    still refresh the staging mtime so other processes' sweeps see it
    as live."""
    import os

    from mini_hadoop_spark.workloads import parity as P
    from tests.conftest import SF_DIR

    P.mapreduce_wordcount_query(spark, SF_DIR)  # populate (or reuse) memo
    stage = P._mr_wordcount_stage_dir(os.path.normpath(SF_DIR))
    assert os.path.isdir(stage)
    ancient = 1_000_000.0
    os.utime(stage, (ancient, ancient))
    P.mapreduce_wordcount_query(spark, SF_DIR)  # memo HIT
    assert os.path.getmtime(stage) > ancient, "memo hit must refresh mtime"
