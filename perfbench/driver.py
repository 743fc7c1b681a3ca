"""One benchmark run in a fresh driver process.

Started by ``run.py`` with the session sized from the host.  The run
sets up (session plus catalog warm scan), makes one cold pass, then
``WARMUP_PASSES`` untimed passes, then warm passes until ``--seconds``
have passed since the first warm pass began (at least ``MIN_WARM`` of
them), checks every output outside the timed passes, and writes its
result as JSON.  Every time it reports is scaled to the reference host
speed (``speed.py``).

With ``--trace 1`` the warm passes are traced: they record a span around
every call plus the Spark jobs it launched, and time their own
bookkeeping, and the per-layer metrics come from them.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()
WALL_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Callable  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

from perfbench import check, speed, stats, trace  # noqa: E402
from perfbench.workload import (  # noqa: E402
    Context, cleanup_pass, expected_mapreduce, pass_calls,
)

#: warm passes a run makes at least, per workload: 21 warm calls each,
#: so the tail percentile rests on more than the slowest call
MIN_WARM = {"olap_mix": 3, "llm_pipeline": 1}
#: untimed passes between the cold pass and the warm ones: olap_mix's
#: latencies fall by a fifth to a third over the first two passes after
#: the cold one, at a pace that differs from run to run (JIT); the
#: llm_pipeline pass after the cold one is already steady
WARMUP_PASSES = {"olap_mix": 1, "llm_pipeline": 0}
MIN_WARM_TRACED = 1
#: queries checked against their oracle side by side (the checks run
#: after the timed passes, so they may share the cores)
CHECK_THREADS = 4
#: the tables the setup warm scan reads end to end
WARM_TABLES = ("lineitem", "orders", "customer", "part", "events", "documents")

#: the modules defining the registry queries the workloads call
QUERY_MODULES = (
    "operators.relational", "operators.relational_ext", "operators.relational_tpch",
    "operators.events", "operators.temporal", "operators.skew", "operators.dq",
    "operators.dedup", "operators.similarity", "operators.text_analysis",
    "operators.text_scoring", "operators.compression", "operators.classifier",
    "operators.clustering", "operators.retrieval", "operators.multimodal",
    "operators.sampling", "streaming.windowed", "workloads.parity",
)
#: layer metric -> (layer, call names) summed per pass
MAPREDUCE_LAYERS = {
    "sources.dfs.store_s": ("sources.dfs", ("store_binary", "store_newline")),
    "sources.dfs.retrieve_s": ("sources.dfs", ("retrieve",)),
    "sources.sinks.write_s": ("sources.sinks", ("write_json", "write_tsv")),
    "engine.mapreduce.run_job_s": ("engine.mapreduce", ("run_job",)),
    "workloads.wordcount.word_count_s": ("workloads.wordcount", ("word_count",)),
    "workloads.pagerank.pagerank_s": ("workloads.pagerank", ("pagerank",)),
    "workloads.pagerank.fixed_point_s": ("workloads.pagerank", ("pagerank_fixed_point",)),
}
#: the modules a pass calls into, imported inside the setup window so
#: import-time work counts in setup_s
PROGRAM_MODULES = (
    "__spark_entry__", "mini_hadoop_spark.sources.dfs", "mini_hadoop_spark.sources.sinks",
    "mini_hadoop_spark.engine.mapreduce", "mini_hadoop_spark.workloads.wordcount",
    "mini_hadoop_spark.workloads.pagerank",
)
SPARK_METRICS = (
    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gap_s", "s"),
    ("spark.core_util", "ratio"), ("spark.input_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.failed_tasks", "count"),
)


def end_to_end_metrics() -> list[tuple[str, str]]:
    return [
        ("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
        ("query_p50_s", "s"), ("query_p90_s", "s"), ("peak_rss_mb", "MB"),
    ]


def per_layer_metrics() -> list[tuple[str, str]]:
    names = [("session.get_spark_s", "s"), ("sources.catalog.warm_s", "s")]
    for m in QUERY_MODULES:
        names += [(f"{m}.call_s", "s"), (f"{m}.run_s", "s"), (f"{m}.gap_s", "s"), (f"{m}.jobs", "count")]
    names += [(k, "s") for k in MAPREDUCE_LAYERS]
    names += [("workloads.pagerank.fixed_point_iters", "count")]
    names += list(SPARK_METRICS)
    names += [("trace_overhead_frac", "ratio")]
    return names


@dataclass
class CallResult:
    name: str
    layer: str
    call_s: float
    run_s: float
    ok: bool
    output: object = None
    jobs: list = field(default_factory=list)
    gap_s: float = 0.0

    @property
    def latency_s(self) -> float:
        return self.call_s + self.run_s


@dataclass
class PassResult:
    index: int
    kind: str  # "cold", "warm-up" (untimed), "warm", "warm-traced"
    wall_s: float
    calls: list[CallResult]
    loadavg_start: list[float]
    probes: list[float]  # host-speed probes taken before each call and after the pass
    trace_s: float = 0.0  # inside the pass's wall, spent on tracing


def wall(perf: float) -> float:
    """Epoch seconds of a ``perf_counter`` reading (the status store
    stamps jobs in epoch milliseconds)."""
    return WALL_START + (perf - PROCESS_START)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    def __init__(self, ctx: Context, workload: str, tracer: trace.Tracer | None):
        self.ctx = ctx
        self.workload = workload
        self.tracer = tracer
        self.reader = trace.StatusStoreReader(ctx.spark) if tracer else None
        self.jvm = ctx.spark.sparkContext._jvm
        self.run_span: int | None = None
        self.errors: list[str] = []
        self._seq = 0
        self._pass_span: int | None = None
        self._trace_s = 0.0

    def run_pass(self, index: int, kind: str, rng: random.Random) -> PassResult:
        traced = kind == "warm-traced"
        calls = pass_calls(self.workload, self.ctx, index, rng)
        load = loadavg()
        self._trace_s = 0.0
        p0 = time.perf_counter()
        if traced:
            self._pass_span = self.tracer.record(f"pass.{kind}", wall(p0), wall(p0), self.run_span, index=index)
        results, probes = [], []
        for c in calls:
            probes.append(speed.probe(self.jvm))
            results.append(self._run_call(c, traced))
        p1 = time.perf_counter()
        if traced:
            self.tracer.close(self._pass_span, wall(p1))
        probe_s = sum(probes)
        probes.append(speed.probe(self.jvm))
        for call, res in zip(calls, results):
            if res.ok and call.verify is not None:
                res.ok = self._verify(call, res.output)
        cleanup_pass(self.ctx, index)
        return PassResult(index, kind, p1 - p0 - probe_s, results, load, probes, self._trace_s)

    def _run_call(self, call, traced: bool) -> CallResult:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        if traced:
            t = time.perf_counter()
            self.reader.begin(group)
            self._trace_s += time.perf_counter() - t
        p0 = time.perf_counter()
        ok, output = True, None
        try:
            handle = call.invoke()
            p1 = time.perf_counter()
            output = call.finish(handle)
        except Exception:  # a failing call is counted, and the pass goes on
            p1 = time.perf_counter()
            ok = False
            self.errors.append(f"{call.name}: {traceback.format_exc(limit=3)}")
        p2 = time.perf_counter()
        res = CallResult(call.name, call.layer, p1 - p0, p2 - p1, ok, None if call.registry else output)
        if traced:
            w0, w2 = wall(p0), wall(p2)
            res.jobs = self.reader.collect(group, w0, w2)
            res.gap_s = trace.gap_seconds(w0, w2, [(j.start, j.end) for j in res.jobs])
            span = self.tracer.record(call.layer, w0, w2, self._pass_span, call=call.name,
                                      call_s=res.call_s, run_s=res.run_s)
            for j in res.jobs:
                self.tracer.record("spark.job", max(j.start, w0), min(j.end, w2), span,
                                   job_id=j.job_id, task_s=j.task_s)
            self._trace_s += time.perf_counter() - p2
        return res

    def _verify(self, call, output) -> bool:
        try:
            good = bool(call.verify(output))
        except Exception:  # a check that cannot run is a failed check
            self.errors.append(f"{call.name} check: {traceback.format_exc(limit=3)}")
            return False
        if not good:
            self.errors.append(f"{call.name}: output check failed")
        return good


def check_registry(ctx: Context, want: dict[str, str], errors: list[str]) -> dict[str, bool]:
    """Each query's Spark result against its DuckDB oracle's digest.
    Runs after the timed passes."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__

    queries = __spark_entry__.queries()

    def matches(name: str) -> bool:
        try:
            got = queries[name](ctx.spark, ctx.inputs["sf_dir"]).toPandas()
            good = check.canonical_digest(got) == want[name]
        except Exception:  # reported as a failed check
            errors.append(f"{name} oracle check: {traceback.format_exc(limit=3)}")
            good = False
        if not good:
            errors.append(f"{name}: differs from its oracle")
        return good

    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        return dict(zip(want, pool.map(matches, want)))


def warm_scan(spark, sf_dir: str, between: Callable[[], float]) -> float:
    """Noop-scan the big tables, calling ``between`` after each one;
    returns the seconds ``between`` took."""
    from mini_hadoop_spark.sources.catalog import load_table

    spent = 0.0
    for t in WARM_TABLES:
        load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        spent += between()
    return spent


def import_program() -> None:
    import importlib

    for name in PROGRAM_MODULES:
        importlib.import_module(name)
    sys.modules["__spark_entry__"].queries()  # imports every registry module


def run(args) -> dict:
    load_setup = loadavg()
    with open(args.inputs) as f:
        inputs = json.load(f)
    cores = os.cpu_count() or 1

    t0 = time.perf_counter()
    from mini_hadoop_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=cores)
    t1 = time.perf_counter()
    # setup is probed once the session is up and after each table of the
    # warm scan; the probes' own time is taken out of it
    jvm = spark.sparkContext._jvm
    setup_probes = []

    def setup_probe() -> float:
        setup_probes.append(speed.probe(jvm))
        return setup_probes[-1]

    probe_s = setup_probe()
    t1p = time.perf_counter()
    scan_probe_s = warm_scan(spark, inputs["sf_dir"], setup_probe)
    t2 = time.perf_counter()
    import_program()
    probe_s += scan_probe_s
    setup_s = time.perf_counter() - PROCESS_START - probe_s

    ctx = Context(spark, inputs, args.work_dir)
    if args.workload == "llm_pipeline":
        from mini_hadoop_spark.sources.dfs import FileStore

        ctx.store = FileStore(spark, os.path.join(args.work_dir, "store"))
        ctx.expected = expected_mapreduce(inputs)

    tracer = trace.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}") if args.trace else None
    runner = Runner(ctx, args.workload, tracer)
    if tracer:
        runner.run_span = tracer.record("run", WALL_START, WALL_START)
        tracer.record("session", wall(t0), wall(t1), runner.run_span)
        tracer.record("sources.catalog", wall(t1p), wall(t2), runner.run_span)

    rng = random.Random(args.seed)
    passes = [runner.run_pass(0, "cold", rng)]
    for _ in range(WARMUP_PASSES[args.workload]):
        passes.append(runner.run_pass(len(passes), "warm-up", rng))
    begin = time.perf_counter()
    kind = "warm-traced" if args.trace else "warm"
    n_warm = 0
    min_warm = MIN_WARM_TRACED if args.trace else MIN_WARM[args.workload]
    while n_warm < min_warm or time.perf_counter() - begin < args.seconds:
        passes.append(runner.run_pass(len(passes), kind, rng))
        n_warm += 1
    load_end = loadavg()
    # peak memory of the timed passes, before the checks below add theirs
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
    peak_rss = rss["python"] + rss["jvm"]
    t_check = time.perf_counter()

    with open(args.oracle) as f:
        verdict = check_registry(ctx, json.load(f), runner.errors)
    attempted = failed = 0
    for p in passes:
        for c in p.calls:
            attempted += 1
            if not c.ok or not verdict.get(c.name, True):
                failed += 1

    rss_after_check = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}

    timed = [p for p in passes[1:] if p.kind != "warm-up"]
    n_calls = sum(len(p.calls) for p in timed)
    run_scale = speed.scale(setup_probes + [x for p in passes for x in p.probes])
    if args.trace:
        metrics = layer_metrics(timed, t1 - t0, t2 - t1p - scan_probe_s, cores, run_scale)
        if tracer:
            tracer.close(runner.run_span, time.time())
            summary = {"self_s": tracer.self_time_by_name(), "metrics": metrics}
            tracer.dump(os.path.join(args.report_dir, f"trace-{args.workload}-s{args.seed}.json"), summary)
    else:
        metrics = e2e_metrics(passes[0], timed, setup_s, peak_rss, run_scale)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": cores, "loadavg_setup_start": load_setup, "loadavg_end": load_end},
        "passes": [
            {"index": p.index, "kind": p.kind, "wall_s": p.wall_s, "probes_s": p.probes,
             "loadavg_start": p.loadavg_start,
             "calls": [{"name": c.name, "layer": c.layer, "call_s": c.call_s, "run_s": c.run_s,
                        "ok": c.ok, "gap_s": c.gap_s, "jobs": len(c.jobs)} for c in p.calls]}
            for p in passes
        ],
        "oracle": verdict,
        "errors": runner.errors,
        "setup": {"session.get_spark_s": t1 - t0, "sources.catalog.warm_s": t2 - t1p - scan_probe_s,
                  "imports_s": PROCESS_START + setup_s + probe_s - t2, "setup_s": setup_s,
                  "probes_s": setup_probes},
        "scale": run_scale,
        "check_s": time.perf_counter() - t_check,
        "peak_rss_mb": rss,
        "peak_rss_mb_after_check": rss_after_check,
        "tail_rule": {"warm_calls": n_calls, "highest_percentile": stats.tail_percentile(n_calls)},
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "report": report}


def e2e_metrics(cold: PassResult, warm: list[PassResult], setup_s: float, peak_rss: float,
                scale: float) -> dict:
    """End-to-end metrics; every time multiplied by ``scale``, the run's
    factor to the reference host speed."""
    lat = [c.latency_s * scale for p in warm for c in p.calls]
    values = {
        "setup_s": setup_s * scale,
        "cold_pass_s": cold.wall_s * scale,
        "warm_pass_s": stats.median([p.wall_s * scale for p in warm]),
        "query_p50_s": stats.median(lat),
        "query_p90_s": stats.percentile(lat, 90),
        "peak_rss_mb": peak_rss,
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in end_to_end_metrics()}


def layer_metrics(traced, session_s, catalog_s, cores, scale: float) -> dict:
    """Per-layer metrics, per-pass means over the traced passes; every
    metric in seconds is multiplied by ``scale``, as the end-to-end times
    are."""
    n = len(traced)
    values = {name: 0.0 for name, _ in per_layer_metrics()}
    values["session.get_spark_s"] = session_s
    values["sources.catalog.warm_s"] = catalog_s
    union_total = 0.0
    for p in traced:
        for c in p.calls:
            if c.layer in QUERY_MODULES:
                values[f"{c.layer}.call_s"] += c.call_s / n
                values[f"{c.layer}.run_s"] += c.run_s / n
                values[f"{c.layer}.gap_s"] += c.gap_s / n
                values[f"{c.layer}.jobs"] += len(c.jobs) / n
            for metric, (layer, call_names) in MAPREDUCE_LAYERS.items():
                if c.layer == layer and c.name in call_names:
                    values[metric] += c.latency_s / n
            if c.name == "pagerank_fixed_point" and c.ok:
                values["workloads.pagerank.fixed_point_iters"] += c.output[1] / n
            union_total += c.latency_s - c.gap_s
            values["spark.gap_s"] += c.gap_s / n
            for j in c.jobs:
                values["spark.task_s"] += j.task_s / n
                values["spark.cpu_s"] += j.cpu_s / n
                values["spark.input_mb"] += j.input_bytes / 2**20 / n
                values["spark.shuffle_write_mb"] += j.shuffle_write_bytes / 2**20 / n
                values["spark.spill_mb"] += j.spill_bytes / 2**20 / n
                values["spark.failed_tasks"] += j.failed_tasks / n
    if union_total > 0:
        values["spark.core_util"] = values["spark.task_s"] * n / (union_total * cores)
    # the time a traced pass spent on tracing over the time it would have
    # taken without: measured inside one pass, so host drift between
    # passes does not enter it
    values["trace_overhead_frac"] = stats.median([p.trace_s / (p.wall_s - p.trace_s) for p in traced])
    return {name: {"value": values[name] * (scale if unit == "s" else 1.0), "unit": unit}
            for name, unit in per_layer_metrics()}


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--oracle", required=True, help="JSON: query name -> oracle digest")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--report-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    out = run(args)
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    t0 = time.perf_counter()
    if active is not None:
        shutdown(active)
    out["report"]["shutdown_s"] = time.perf_counter() - t0
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
