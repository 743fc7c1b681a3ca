"""Iterative PageRank as a DataFrame loop — reference parity workload.

Reference semantics (lib/mini_hadoop/examples/page_rank.ex):
  * mapper (page_rank.ex:31-88): for each adjacency line ``src\\tt1 t2 ...``
    emit baseline ``{src, (1-d)/n}`` once per source line, plus
    ``{target, d * rank(src) / out_degree(src)}`` per target; ``rank(src)``
    defaults to 1.0 when absent from the prior-ranks side file
    (page_rank.ex:56); dangling sources emit only the baseline
    (page_rank.ex:70-73).
  * reducer (page_rank.ex:102-122): sum contributions per page.
  * iteration: the reference threads prior ranks through a shared JSON file
    (mini_hadoop.ex:53-73) — a hand-rolled broadcast join.  Here prior
    ranks are simply a DataFrame joined to the edge list; Catalyst
    broadcasts it when small, shuffles on ``src`` otherwise.

Scale posture: each iteration is one join + one hash aggregate, both keyed
shuffles that AQE can re-plan.  The edge list and out-degree table are
persisted ONCE before the loop (at 100 TB an unpersisted loop re-scans the
fact table N+2 times); the rank frontier is persisted per iteration (the
previous one unpersisted) and lineage is truncated every
``checkpoint_every`` iterations so the plan does not grow linearly with
iteration count (the classic iterative-Spark pitfall).  Pass
``reliable_checkpoint=True`` on a real cluster: ``localCheckpoint`` stores
blocks on executors only and is lost on executor death — routine at 1000
executors — while ``checkpoint()`` writes to the fault-tolerant checkpoint
dir at the cost of an extra write.

Rounding assumption: ``pagerank`` pins both per-iteration joins to
sort-merge (the ``SHUFFLE_MERGE`` hints).  That changes the order in
which each page's double contributions are summed, so ranks can drift in
the last few bits against a broadcast plan or another engine.  The
reference-parity queries round ranks to 8 decimals, which absorbs that
drift; output consumed at full double precision would need a fixed
summation order instead.  ``pagerank_fixed_point`` has no such
assumption: its ranks are integers, summed exactly in any order.

Convergence test of ``pagerank_fixed_point``: each iteration's
``sum(|rank9 - p9|)`` and page count are observed metrics
(``DataFrame.observe``) on the frame the iteration localCheckpoints, so
the eager checkpoint's own job computes them and the test costs no job
of its own.  The observe node must be the TOP node of the checkpointed
plan: it then runs in the job's result stage, whose accumulator updates
Spark applies once per partition, so a retried task cannot count its
rows twice (an observe below a shuffle would run in a map stage, where
a re-run stage reports its partitions again).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.storagelevel import StorageLevel

from mini_hadoop_spark.session import release


def pagerank(
    edges: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    total_pages: int | None = None,
    checkpoint_every: int = 5,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Run PageRank over an edge list ``(src, dst)``.

    Returns ``(page, rank)``.  Matches page_rank.ex semantics: baseline
    (1-d)/n is emitted per distinct source; destination-only pages receive
    only in-edge contributions; initial rank is 1.0 for every source
    (page_rank.ex:56 default).
    """
    if iterations < 1:
        # validate BEFORE persisting inputs: with 0 iterations `result`
        # would stay None (AttributeError below) after edges/out_deg had
        # already been pinned in the block manager
        raise ValueError(f"pagerank requires iterations >= 1, got {iterations}")
    # Input-caching COST MODEL (measured at sf0.1, generalizes): the edge
    # fact appears iterations+1 times in the final plan (out_deg derivation
    # + one join per iteration).
    #   * Long runs (>= 3 iterations): cache pre-partitioned on the join
    #     key — ONE shuffle + ONE materialization, and every iteration's
    #     join reuses the cached hashpartitioning, shuffling only the
    #     |sources|-row rate side.  At 100 TB this is the difference
    #     between shuffling the edge corpus once vs once per iteration.
    #   * Short runs (<= 2 iterations, the reference's published config):
    #     straight-line recompute.  A 2-column columnar re-scan is cheaper
    #     than repartition+persist+unpersist for so few references
    #     (measured: cold 4.4 s vs 8.0 s, steady 1.9 s vs 3.1 s at sf0.1)
    #     — the one-time shuffle only amortizes from ~3 iterations up.
    # Values are identical either way (same FP ops; partial-sum order is
    # absorbed by the 8-decimal output rounding, oracle-proven).
    persist_inputs = iterations >= 3
    edges = edges.select("src", "dst")
    if persist_inputs:
        edges = edges.repartition(F.col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_degree"))
    if persist_inputs:
        out_deg = out_deg.persist(StorageLevel.MEMORY_AND_DISK)
    sources = out_deg.select("src")

    if total_pages is None:
        # page count as a 1-ROW AGGREGATE attached via broadcast cross
        # join (the canonical scalar-attach) instead of a driver-side
        # .count(): the whole PageRank run is then a SINGLE Spark job —
        # no separate count job, no job-submission barrier before the
        # loop.  lit(1-d)/n is the same IEEE double division the old
        # Python-side (1-d)/total_pages performed, so ranks are
        # bit-identical.  The identical 1-row broadcast exchange is
        # reused across iterations (ReusedExchange).
        # distinct(src ∪ dst) ≡ distinct(dst ∪ distinct-src), and the
        # distinct src set IS out_deg's key set — so the src side feeds
        # the page-count distinct pre-aggregated (|sources| rows instead
        # of |edges|) and rides out_deg's exchange via ReuseExchange
        # (r17; the dst side still contributes its raw |edges| rows).
        npages = (
            edges.select(F.col("dst").alias("page"))
            .union(out_deg.select(F.col("src").alias("page")))
            .distinct()
            .agg(F.count("*").alias("_npages"))
        )

        def with_baseline(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(npages)).withColumn(
                "contrib", F.lit(1.0 - damping) / F.col("_npages")
            ).drop("_npages")

    else:
        _baseline = F.lit((1.0 - damping) / total_pages)

        def with_baseline(df: DataFrame) -> DataFrame:
            return df.withColumn("contrib", _baseline)

    # Iteration state is the per-source emission RATE rank/out_degree —
    # |sources| rows, not |edges| — so each iteration needs exactly ONE
    # big join (edges ⋈ rate on src) instead of edges ⋈ out_deg ⋈ ranks.
    # Iteration 1: every source has rank 1.0 (page_rank.ex:56 default).
    rate = out_deg.select("src", (F.lit(1.0) / F.col("out_degree")).alias("w"))

    result = None
    cached_rates: list[DataFrame] = []
    for i in range(iterations):
        # OPTIMIZATION_r18 (guide §3.1 — pick the strategy deliberately):
        # the rate side is |sources|-proportional, so at any real scale
        # SMJ is the only viable strategy; the hint pins it at small SF
        # too, where the planner's size estimate (~2 MB for 150k rates)
        # otherwise picks a broadcast — a DRIVER-SERIAL collect + build
        # per iteration sitting on the critical path (the measured cause
        # of pagerank_2iter's 0.84 core-scaling ratio: 4 sequential
        # ~150k-row broadcast builds per run).  A/B at sf0.1: 1.54 →
        # 1.23 s min-of-6 interleaved.  Join rows are unchanged; the
        # per-page sum order shifts, which the 8-decimal output rounding
        # absorbs (the module's established oracle-proven convention).
        contribs = edges.join(rate.hint("SHUFFLE_MERGE"), "src").select(
            F.col("dst").alias("page"), (F.lit(damping) * F.col("w")).alias("contrib")
        )
        base = with_baseline(sources.select(F.col("src").alias("page")))
        result = contribs.unionAll(base).groupBy("page").agg(F.sum("contrib").alias("rank"))
        if i < iterations - 1:
            # fold the new ranks back into per-source rates: a SMALL join
            # (|sources| rows; every source appears in result via its
            # baseline, so inner join loses nothing).  SMJ here too:
            # both sides are |pages|/|sources|-proportional and already
            # hash-clustered (groupBy output / out_deg's aggregate), so
            # the merge join rides existing partitioning instead of
            # collecting out_deg to the driver.
            rate = (
                result.alias("res")
                .join(out_deg.hint("SHUFFLE_MERGE").alias("od"), F.col("res.page") == F.col("od.src"))
                .select(F.col("od.src").alias("src"), (F.col("res.rank") / F.col("od.out_degree")).alias("w"))
            )
            if (i + 1) % checkpoint_every == 0:
                # truncate lineage so the plan stays O(1) per iteration
                if reliable_checkpoint:
                    rate = rate.checkpoint(eager=True)
                else:
                    rate = rate.localCheckpoint(eager=True)
            elif persist_inputs:
                # rate appears once in the next iteration's plan, so a
                # straight-line (short) run gains nothing from caching it;
                # long runs persist so a checkpoint replays at most
                # checkpoint_every-1 cached steps, not raw lineage
                rate = rate.persist(StorageLevel.MEMORY_AND_DISK)
                cached_rates.append(rate)

    # Materialize the final ranks ONCE, then release every cached input:
    # without this the persisted edges/out_deg/rate frames stay pinned in
    # the block manager for the session's lifetime (each pagerank() call
    # would leak its whole edge list), and unpersisting lazily instead
    # would silently void the caching the loop depends on.
    if reliable_checkpoint:
        result = result.checkpoint(eager=True)
    else:
        result = result.localCheckpoint(eager=True)
    for r in cached_rates:
        r.unpersist()
    if persist_inputs:
        out_deg.unpersist()
        edges.unpersist()
    return result


def adjacency_edges(spark, path: str) -> DataFrame:
    """Parse the reference's adjacency-TSV format into an (src, dst)
    edge frame: one line per source, ``src\\tt1 t2 ...`` with
    space-separated targets (the format page_rank.ex:126-144 consumes
    and test_file/adjacency_*.tsv ships).

    Distributed text scan + split/explode — the file parallelizes by
    line ranges like any Spark text read; no driver-side parsing."""
    parts = F.split(F.col("value"), "\t")
    return (
        spark.read.text(path)
        .filter(F.trim(F.col("value")) != "")
        .select(
            parts.getItem(0).cast("long").alias("src"),
            F.explode(F.split(F.trim(parts.getItem(1)), " +")).alias("_dst"),
        )
        .filter(F.col("_dst") != "")
        .select("src", F.col("_dst").cast("long").alias("dst"))
    )


def converged(old: DataFrame, new: DataFrame, tolerance: float = 1e-4) -> bool:
    """README.md:843-854 convergence helper: max |Δrank| < tolerance."""
    delta = (
        old.select(F.col("page"), F.col("rank").alias("old_rank"))
        .join(new, "page", "full")
        .select(F.abs(F.coalesce("rank", F.lit(0.0)) - F.coalesce("old_rank", F.lit(0.0))).alias("d"))
        .agg(F.max("d").alias("max_delta"))
        .first()
    )
    return (delta["max_delta"] or 0.0) < tolerance


def pagerank_fixed_point(
    edges: DataFrame,
    damping: float = 0.85,
    tol9: int = 50_000_000,
    max_iters: int = 12,
) -> tuple[DataFrame, int]:
    """``fixed_point_ranks`` projected to ``((page, rank9),
    stop_iteration)``."""
    ranks, k = fixed_point_ranks(edges, damping, tol9, max_iters)
    return ranks.select("page", "rank9"), k


def fixed_point_ranks(
    edges: DataFrame,
    damping: float = 0.85,
    tol9: int = 50_000_000,
    max_iters: int = 12,
) -> tuple[DataFrame, int]:
    """Loop-until-converged PageRank with INTEGER fixed-point ranks —
    the reference's iteration driver + convergence check
    (mini_hadoop.ex:53-73 threads ranks between jobs; README's
    ``converged`` helper stops on small deltas) as an engine-
    deterministic registered query.

    Ranks are BIGINTs in units of 1e-9 (``rank9``): each per-edge
    contribution is ``floor(d * rank9 / deg + 0.5)`` — one double
    multiply + divide on identical operands (correctly rounded in any
    IEEE engine) quantized straight back to integer — and the per-page
    rank is an INTEGER sum, order-independent across partitionings AND
    engines.  So every iteration's rank vector is bit-identical in
    Spark and DuckDB, the convergence test compares the SAME integers,
    and the stop iteration is deterministic — what lets the oracle
    (parity.py::_pagerank_conv_sql, the loop unrolled) carry a full
    value hash.

    Convergence: mean absolute change per page < tol9 units, tested as
    the pure-integer ``sum(|Δrank9|) < tol9 * n_pages`` (no division).
    An ABSOLUTE max-delta test at 1e-4 would take ~log(1e-4)/log(d)
    ≈ 57 iterations — the delta decays geometrically by the damping
    factor, so tolerance placement, not graph shape, sets the count;
    0.05 mean units converges this family of graphs in ~8.

    Scale posture: same as ``pagerank`` — per iteration one keyed join
    + one hash aggregate; the out-degree table and the (edge ⋈
    out-degree) fact are materialized once before the loop; each
    frontier localCheckpoints (truncated lineage) and the convergence
    test is observed on that checkpoint's job (module docstring).  Each
    superseded frontier and, after the loop, the two pre-loop
    checkpoints are released.  Returns the final frontier's checkpoint
    (``page``, ``rank9`` and, past round 1, the previous ``p9``) and the
    stop iteration.
    """
    # The edge scan is read twice, both times before the loop: the
    # out-degree table and the (edge ⋈ out-degree) fact are
    # checkpointed, and the page count and the per-iteration teleport
    # rows derive from those checkpoints, so no iteration re-scans or
    # re-aggregates the edge source.
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(eager=True)
    ej = edges.join(out_deg, "src").localCheckpoint(eager=True)
    n_pages = (
        out_deg.select(F.col("src").alias("p"))
        .union(ej.select(F.col("dst").alias("p")))
        .distinct()
        .count()
    )
    if n_pages == 0:
        # empty graph: no pages, already "converged" — return the empty
        # (page, rank9) frame instead of dividing by zero in the
        # teleport term (the oracle's WHERE-filtered unions are empty
        # too, so both engines emit zero rows)
        release(out_deg)
        release(ej)
        empty = edges.sparkSession.createDataFrame([], "page bigint, rank9 bigint")
        return empty, 0
    # literal op order matches the oracle: 0.15 / n * 1e9 + 0.5
    t9 = int(math.floor((1.0 - damping) / n_pages * 1e9 + 0.5))
    teleport = out_deg.select(F.col("src").alias("page"), F.lit(t9).cast("long").alias("c9"))

    def step(prev: DataFrame | None) -> tuple[DataFrame, Observation | None]:
        if prev is None:
            src_rank = F.lit(1_000_000_000)
            joined = ej
        else:
            src_rank = F.coalesce(F.col("rank9"), F.lit(1_000_000_000))
            joined = ej.join(
                prev.select(F.col("page").alias("src"), "rank9"), "src", "left"
            )
        contribs = joined.select(
            F.col("dst").alias("page"),
            F.floor(F.lit(damping) * src_rank / F.col("deg") + F.lit(0.5)).alias("c9"),
        )
        agg = contribs.unionAll(teleport).groupBy("page").agg(F.sum("c9").alias("rank9"))
        delta = None
        if prev is not None:
            # attach the previous rank BEFORE the checkpoint: both sides
            # are hash-partitioned on page (groupBy output / checkpointed
            # groupBy output), so the join adds no shuffle (the page set
            # is identical every round — pages = dst ∪ src of the same
            # edge set — so this left join never adds nulls).  The
            # convergence sums are observed metrics of the checkpoint's
            # own job (see the module docstring), not a job of their own.
            agg = agg.join(prev.select("page", F.col("rank9").alias("p9")), "page", "left")
            delta = Observation()
            agg = agg.observe(
                delta,
                F.sum(F.abs(F.col("rank9") - F.col("p9"))).alias("s"),
                F.count("*").alias("c"),
            )
        return agg.localCheckpoint(eager=True), delta

    prev, _ = step(None)
    for k in range(2, max_iters + 1):
        cur, delta = step(prev)
        d = delta.get
        release(prev)
        prev = cur
        if d["s"] < tol9 * d["c"]:
            break
    else:
        k = max_iters
    release(out_deg)
    release(ej)
    return prev, k
