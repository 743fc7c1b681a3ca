"""Physical-plan invariants for EVERY registered query — the automated
form of the 100 TB design review:

* no CartesianProduct anywhere;
* BroadcastNestedLoopJoin only where declared intentional (the
  brute-force similarity baseline broadcasts a bounded query set by
  design — see operators/similarity.py docstring);
* no Python row-at-a-time UDF nodes (BatchEvalPython) — Python is
  allowed only behind Arrow (mapInPandas / applyInPandas show up as
  MapInPandas / FlatMapGroupsInPandas nodes).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

# Queries that legitimately use a bounded non-equi broadcast join:
# - similarity_topk_brute: the bounded query set broadcasts into one scan
#   (the deliberate brute-force baseline);
# - tfidf_top_terms: crossJoin(broadcast(<1-row aggregate>)) — the
#   canonical scalar-attach, build side is exactly one row.
# - similarity_ann_ivf: crossJoin(broadcast(<=32-row centroid table)) —
#   bounded constant build side (the IVF coarse quantizer).
# - scalar_subquery_uncorrelated: crossJoin(broadcast(<1-row aggregate>))
#   — the same canonical scalar-attach as tfidf_top_terms.
# - mix_domain_weights / events_funnel: crossJoin(broadcast(<1-row
#   aggregate>)) — the same canonical scalar-attach (corpus totals /
#   first-stage user count).
# - bm25_search: crossJoin(broadcast(<1-row aggregate>)) — scalar-attach
#   of the corpus (N, sum_dl) stats.
# - events_decayed_engagement: crossJoin(broadcast(<1-row aggregate>)) —
#   scalar-attach of the corpus max event date.
# (similarity_topk_brute / similarity_ann_ivf / similarity_ann_ivfpq /
# similarity_ann_recall moved OUT of this list in r9: their registered
# plans are now memoized block scans; the real plans' BNLJ rationale
# lives in _internal_plans below.)
BNLJ_ALLOWED = {
    "bm25_search",
    "events_decayed_engagement",
    "tfidf_top_terms",
    "scalar_subquery_uncorrelated",
    "mix_domain_weights",
    # mix_temperature_weights: two 1-row scalar-attaches (token total +
    # fixed-point sqrt-share sum) — the canonical scalar-attach.
    "mix_temperature_weights",
    "events_funnel",
    "pipeline_pretrain_manifest",
    "sample_weighted_mix",
    # q22_idle_rich_customers: crossJoin(broadcast(<1-row aggregate>)) —
    # the canonical scalar-attach (global avg balance), build side 1 row.
    "q22_idle_rich_customers",
    # quantile_disc_price (r14): crossJoin(broadcast(<1-row min/max>)) —
    # scalar-attach of the exact price range that derives the prefix-sum
    # buckets, build side 1 row.
    "quantile_disc_price",
    # events_gap_quantiles (r15): the same prefix-sum shape — crossJoin(
    # broadcast(<1-row gap min/max>)) derives the range buckets.
    "events_gap_quantiles",
    # q11/q15/q20: crossJoin(broadcast(<1-row scalar>)) — global total /
    # max-revenue / (total, n) threshold scalars, build side 1 row each.
    "q11_important_stock",
    "q15_top_supplier",
    "q20_excess_suppliers",
    # similarity_matryoshka_agreement: per-prefix crossJoin(broadcast(
    # <1-row overlap/query-count/energy scalars>)) — scalar-attach again.
    "similarity_matryoshka_agreement",
    # text_char_bigram_novelty: crossJoin(broadcast(<1-row total>)) onto
    # the bounded (|charset|²) bigram table — scalar-attach again.
    "text_char_bigram_novelty",
    # ngram_pmi_top: crossJoin(broadcast(<1-row (n_tok, n_bg) totals>))
    # — the same canonical scalar-attach (corpus token/bigram totals).
    "ngram_pmi_top",
    # skew_heavy_hitters: crossJoin(broadcast(<1-row table total>)) onto
    # the ≤HH_TOP heavy-hitter rows — scalar-attach again.
    "skew_heavy_hitters",
    # vocab_coverage_curve (r16): crossJoin(broadcast(<1-row grand token
    # total>)) onto the 1-row folded curve aggregate — scalar-attach
    # (the limit-first rewrite moved the total out of the rank window).
    "vocab_coverage_curve",
    # orders_rfm_segmentation: crossJoin(broadcast(<1-row corpus max
    # date>)) onto the per-customer aggregate — scalar-attach again.
    "orders_rfm_segmentation",
    # orders_rfm_segmentation_approx: scalar-attaches only (corpus max
    # date + the 1-row md5-sample quartile-cut row + the 1-row sample
    # count attached to the bounded sample ranking).
    "orders_rfm_segmentation_approx",
    # basket_pair_affinity: crossJoin(broadcast(<1-row order total>))
    # onto the supported pair table — scalar-attach again.
    "basket_pair_affinity",
    # centroid_classify_eval: crossJoin(broadcast(<=|labels| centroid
    # rows>)) — the model side is bounded by construction.
    "centroid_classify_eval",
    # dedup_cross_source_matrix: crossJoin(broadcast(<1-row total>)) onto
    # the bounded |sources|^2 matrix — the canonical scalar-attach.
    "dedup_cross_source_matrix",
    # similarity_hard_negatives: broadcast non-equi join of the 32-row
    # md5-budget query set over one corpus scan — the same deliberate
    # bounded brute shape as similarity_topk_brute.
    "similarity_hard_negatives",
    # contamination_semantic: crossJoin(broadcast(<32-row md5-budget
    # eval set>)) over one train scan — the same deliberate bounded
    # brute shape (work = budget x corpus, linear at 100x).
    "contamination_semantic",
    # dedup_threshold_curve: 5 probe rows non-equi-joined onto the
    # broadcast memoized pair graph — bounded x bounded scalar-attach.
    "dedup_threshold_curve",
    # quantize_pq_codes: crossJoin(broadcast(<1-row m-indexed PQ
    # codebook array>)) — bounded constant build side (PQ_M x PQ_KS
    # entries packed into one row), the zero-shuffle assignment idiom.
    "quantize_pq_codes",
    # bpe_encode_docs / bpe_fertility_by_lang: crossJoin(broadcast(
    # <1-row rnd-ordered merge array>)) — the trained 8-row BPE model
    # collapsed into one row, the same broadcast-the-model fold.
    "bpe_encode_docs",
    "bpe_fertility_by_lang",
    # cluster_kmeans_topics: shares similarity._assign's 1-row broadcast
    # centroid-array attach (same bounded build side as similarity_ann_ivf).
    "cluster_kmeans_topics",
    # events_user_lifecycle: crossJoin(broadcast(<1-row corpus max week>))
    # onto the candidate churn rows — the canonical scalar-attach.
    "events_user_lifecycle",
    # dq_distribution_drift: 1-row broadcast attaches (9-cut sampled
    # decile array, bin totals) — scalar-attach again.
    "dq_distribution_drift",
    # quality_dup_deciles: crossJoin(broadcast(<1-row 9-cut sampled
    # decile array>)) — the same canonical scalar-attach (r8 rewrite).
    "quality_dup_deciles",
    # dedup_lsh_quality_audit: crossJoins of three 1-row aggregates —
    # the canonical scalar-attach, build sides exactly one row.
    "dedup_lsh_quality_audit",
    # vocab_drift_top_movers: crossJoin(broadcast(<1-row split totals>))
    # — the canonical scalar-attach again.
    "vocab_drift_top_movers",
    # ivf_recenter_apply: shares similarity._assign's 1-row broadcast
    # centroid-array attach for the post-recenter reassignment (same
    # bounded build side as similarity_ann_ivf / cluster_kmeans_topics).
    "ivf_recenter_apply",
    # similarity_ann_nprobe_curve: per-arm 1-row scalar-attaches
    # (totals x hit count) plus the IVF arms' centroid-array attach.
    "similarity_ann_nprobe_curve",
}


# Queries allowed to keep an unpartitioned window over unbounded input:
# documented exact baselines whose registered scale twin ships the
# sampled/sketched path (VERDICT r7 #2's allowlist).
# - orders_rfm_segmentation: exact ntile baseline; scale twin =
#   orders_rfm_segmentation_approx.
# (events_gap_quantiles left the list in r15: it now runs the lesson-38
# distributed prefix-sum — bucketed cumulative windows, no global rank;
# shape pinned in test_events_gap_quantiles_prefix_sum_shape below.
# orders_rfm_segmentation_approx needs no entry: its windows rank the
# bounded md5 TakeOrdered sample, so every path below them is bounded.)
GLOBAL_WINDOW_ALLOWED = {
    "orders_rfm_segmentation",
}


# VERDICT r15 #2: keyed aggregates no longer count as bounding (an agg
# grouped by a row-identity key re-emits the corpus), so windows over
# keyed aggregates need a per-name adjudication that the grouping-key
# DOMAIN is genuinely bounded — the honest replacement for the old
# blanket 'Aggregate = bounded' assumption.  Every entry must name the
# key and its bound.
# Windows whose input is the localCheckpoint of an orderBy().limit(K)
# sample: the bound is real (enforced below the checkpoint) but invisible
# to the plan walker, which sees only the LogicalRDD leaf.  Every entry
# must (a) name the budget constant and (b) have the pre-checkpoint pick
# shape pinned by test_sample_pickers_take_ordered.
CHECKPOINT_BOUNDED_WINDOW_ALLOWED = {
    # qcuts row_number windows run over the checkpointed md5 sample —
    # ≤ RFM_SAMPLE_BUDGET (2048) rows by the limit in _rfm_sample_pick,
    # pinned as TakeOrderedAndProject by the rfm_approx picker test.
    "orders_rfm_segmentation_approx",
}


KEYED_AGG_WINDOW_ALLOWED = {
    # len_bucket is a FIXED CASE ladder: |LEN_BUCKETS|+1 ≤ 16 rows at
    # any corpus size; the windows rank/cumsum that fixed report.
    "text_length_histogram",
    # mi = year*12+month of l_shipdate: ≤ |calendar months spanned| rows
    # (TPC-H ~84; even a century of data is 1 200) — the lag window
    # runs over the monthly report, not lineitem.
    "revenue_monthly_growth",
    # the lesson-38 prefix-sum's offsets windows run over the partials
    # aggregate keyed by bucket = floor range bucket clamped to
    # [0, GAP_QUANTILE_BUCKETS) — ≤1024 rows by construction; shape
    # further pinned in test_events_gap_quantiles_prefix_sum_shape.
    "events_gap_quantiles",
}


def _names():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.queries().keys())


def _jseq(seq):
    return [seq.apply(i) for i in range(seq.size())]


#: node-name fragments that BOUND the rows flowing up to a window
#: unconditionally: any limit/top-K caps the row count by construction.
_BOUNDING = ("TakeOrderedAndProject", "Limit")
#: leaf scans that are driver-local literal data (bounded by construction)
_BOUNDED_LEAVES = ("LocalTableScan", "EmptyRelation", "OneRowRelation")


def _has_unbounded_path(node) -> bool:
    """True iff some root-to-leaf path below ``node`` reaches a real data
    scan without passing through a limit or a SCALAR aggregate — i.e.
    the node sees O(corpus) rows, not a bounded reduction of them.

    VERDICT r15 #2: an Aggregate is bounding ONLY when its grouping-key
    count is 0 (scalar output) or its own input is already bounded — an
    aggregate grouped by a row-identity key (vec_id, doc_id,
    o_orderkey, …) re-emits the corpus, which is exactly how
    embedding_outlier_audit's corpus-sized top-20 rank slipped past the
    old 'any Aggregate bounds' assumption.  Genuinely keyed-SMALL
    aggregates (bounded key domains like l_returnflag or event_type)
    are adjudicated by name in KEYED_AGG_WINDOW_ALLOWED below."""
    name = node.getClass().getSimpleName()
    if any(b in name for b in _BOUNDING):
        return False
    if "Aggregate" in name:
        try:
            n_keys = node.groupingExpressions().size()
        except Exception:
            n_keys = None  # unknown agg node shape: stay conservative
        if n_keys == 0:
            return False
        # keyed (or unknown): output size tracks input size — bounded
        # iff the subtree below is bounded
    kids = _jseq(node.children())
    if not kids:
        return not any(b in name for b in _BOUNDED_LEAVES)
    return any(_has_unbounded_path(k) for k in kids)


def _global_window_violations(df) -> list[str]:
    """Walk the pre-AQE physical plan; report every WindowExec whose
    partition spec is empty AND whose input subtree has an agg/limit-free
    path to a data scan (the all-rows-to-one-task scale killer)."""
    out: list[str] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            if any(_has_unbounded_path(k) for k in _jseq(node.children())):
                out.append(node.simpleString(120))
        for k in _jseq(node.children()):
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    return out


@pytest.mark.parametrize("name", _names())
def test_no_global_window_over_unbounded_scan(spark, name):
    """An unpartitioned window whose input is an unaggregated, unlimited
    scan moves ALL rows to one task — the r7 dq_distribution_drift /
    quality_dup_deciles defect class (VERDICT r7 'What's wrong' #1).
    Sampled-cut idioms (md5 top-K → TakeOrderedAndProject) and windows
    over aggregated frames pass; documented exact-baseline twins are
    allowlisted above."""
    if name in GLOBAL_WINDOW_ALLOWED:
        pytest.skip("documented exact baseline with a registered scale twin")
    if name in KEYED_AGG_WINDOW_ALLOWED:
        pytest.skip("adjudicated: window over a bounded-key-domain aggregate")
    if name in CHECKPOINT_BOUNDED_WINDOW_ALLOWED:
        pytest.skip(
            "adjudicated: window over a checkpointed orderBy().limit(K) "
            "sample; pick shape pinned by test_sample_pickers_take_ordered"
        )
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, SF_DIR)
    bad = _global_window_violations(df)
    assert not bad, (
        f"{name} plans an unpartitioned window over unbounded input "
        f"(all rows to ONE task at scale):\n" + "\n".join(bad)
    )


def test_guard_flags_id_keyed_agg_window(spark):
    """Regression pin for the VERDICT r15 guard hole: a no-partition
    window fed by an aggregate grouped by a row-identity key (one output
    row per input vector) must be RED-flagged.  The old ``_BOUNDING``
    list treated any Aggregate as bounding, so this corpus-sized window
    input passed the guard for five rounds.

    (The literal pre-fix embedding_outlier_audit shape — rank window +
    ``filter(rnk <= K)`` — happens to be rescued by Spark 4's
    InferWindowGroupLimit rule, which plants a TakeOrderedAndProject
    below the window; the r16 rewrite makes the limit explicit instead
    of relying on that rule firing.  This pin therefore uses the
    un-rescuable form: the same id-keyed window WITHOUT a rank filter.)"""
    from mini_hadoop_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    scored = emb.groupBy("vec_id").agg(F.count("*").alias("score"))
    w = W.orderBy(F.desc("score"), "vec_id")
    df = scored.withColumn("rnk", F.row_number().over(w))
    bad = _global_window_violations(df)
    assert bad, "id-keyed aggregate under a global window must be flagged"


def test_guard_accepts_scalar_agg_and_limit(spark):
    """Complement of the hole pin: a window over a LIMITed input and a
    window whose only scan path passes a grouping-key-count-0 aggregate
    both stay green — the two idioms the fixed queries use."""
    from mini_hadoop_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    top = (
        emb.groupBy("vec_id").agg(F.count("*").alias("score"))
        .orderBy(F.desc("score"), "vec_id").limit(20)
    )
    limited = top.withColumn("rnk", F.row_number().over(W.orderBy(F.desc("score"), "vec_id")))
    assert not _global_window_violations(limited)
    scalar = emb.agg(F.count("*").alias("n")).withColumn(
        "tot", F.sum("n").over(W.partitionBy())
    )
    assert not _global_window_violations(scalar)


def _assert_plan_clean(name, df, bnlj_ok=False):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product:\n{plan}"
    if not bnlj_ok:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans an unbounded nested-loop join:\n{plan}"
        )
    assert "BatchEvalPython" not in plan, (
        f"{name} uses a row-at-a-time Python UDF (use Arrow batches):\n{plan}"
    )


@pytest.mark.parametrize("name", _names())
def test_no_cartesian_or_interpreted_python(spark, name):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, SF_DIR)
    _assert_plan_clean(name, df, bnlj_ok=name in BNLJ_ALLOWED)


def _internal_plans():
    """Plan builders hidden behind the memoized pipelines (near-dup pair
    graphs, the four ANN neighbor sets): the registered queries return
    checkpointed frames (whose physical plan is just a block scan), so
    the real candidate-generation plans are guarded here directly.
    Values: (builder, bnlj_ok) — bnlj_ok mirrors BNLJ_ALLOWED's rationale
    for the builders whose registered twins used to carry the entry:
    brute broadcasts the bounded query set (the deliberate baseline),
    ivf/ivfpq attach the <=32-row centroid table / 1-row PQ codebook,
    and the BPE trainer scalar-attaches each round's 1-row winning pair."""
    from mini_hadoop_spark.operators import compression, dedup, similarity

    return {
        # r12: the merge loop moved driver-side over the bounded vocab
        # dict (SentencePiece/HF architecture); the corpus-scale stage —
        # the only distributed plan training still has — is the vocab
        # count, guarded here
        "bpe_vocab_plan": (compression._bpe_vocab_plan, False),
        "near_dup_pairs_jaccard_plan": (dedup._near_jaccard_plan, False),
        "near_dup_pairs_minhash_plan": (dedup._minhash_lsh_plan, False),
        "near_dup_pairs_minhash_md5_plan": (dedup._minhash_lsh_md5_plan, False),
        "ann_brute_plan": (similarity._topk_brute_plan, True),
        "ann_lsh_plan": (similarity._ann_lsh_plan, False),
        "ann_ivf_plan": (similarity._ann_ivf_plan, True),
        "ann_ivfpq_plan": (similarity._ann_ivfpq_plan, True),
    }


@pytest.mark.parametrize("name", sorted(_internal_plans()))
def test_internal_pair_plans_clean(spark, name):
    builder, bnlj_ok = _internal_plans()[name]
    df = builder(spark, SF_DIR)
    _assert_plan_clean(name, df, bnlj_ok=bnlj_ok)
    # ADVICE r8 #3: the global-window class must be checked on the REAL
    # plans too — a memoized localCheckpoint frame presents as an opaque
    # block scan to the registered-query guard above.
    bad = _global_window_violations(df)
    assert not bad, (
        f"{name} plans an unpartitioned window over unbounded input "
        f"(all rows to ONE task at scale):\n" + "\n".join(bad)
    )


def test_quantile_disc_price_prefix_sum_shape(spark):
    """VERDICT r13 #1: quantile_disc_price must never sort a near-cohort
    input in a per-flag window task (l_extendedprice is near-continuous:
    594,330 of 600,000 rows are distinct (flag, price) pairs at sf0.1,
    so 'window over distinct values' was still a one-task sort of ~1/3
    of the corpus).  Pin the distributed prefix-sum shape: every
    WindowExec over the corpus-sized per-value counts partitions by
    (l_returnflag, bucket); flag-only windows are allowed ONLY over the
    <=3*QUANTILE_BUCKETS-row partials aggregate (their subtree must
    contain the bucket-keyed aggregate that bounds them)."""
    from mini_hadoop_spark.operators.relational_ext import quantile_disc_price

    df = quantile_disc_price(spark, SF_DIR)
    windows = []

    def walk(node):
        if node.getClass().getSimpleName() == "WindowExec":
            windows.append(node)
        for k in _jseq(node.children()):
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    assert windows, "expected window nodes in the quantile plan"
    # the corpus-sized (flag, value) counts agg appears under the rng
    # scalar, the partials branch AND the cum probe side — ReuseExchange
    # must dedupe those subtrees so the corpus is scanned once, not 3x
    # (code-review r14: without reuse the prefix-sum triples the only
    # corpus-sized work of the query).  AQE hides the reuse in the
    # initial explain (it reuses shuffle STAGES at runtime), so check
    # the static planner's form with AQE off, like tools/plan_audit.py
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        from mini_hadoop_spark.operators.relational_ext import (
            quantile_disc_price as _q,
        )

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _q(spark, SF_DIR).explain("formatted")
        assert "ReusedExchange" in buf.getvalue(), (
            "quantile_disc_price plans no exchange reuse — the per-value "
            "counts aggregation would recompute per branch"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    saw_bucketed = False
    for w in windows:
        keys = [str(e) for e in _jseq(w.partitionSpec())]
        if any("bucket" in k for k in keys):
            saw_bucketed = True
            continue
        # flag-only window: must sit above the bucket-keyed partials agg
        subtree = w.child().treeString()
        assert "bucket" in subtree and "Aggregate" in subtree, (
            "flag-only window over non-partials input (single-task "
            f"cohort sort at scale); partition keys={keys}\n{subtree[:2000]}"
        )
    assert saw_bucketed, "expected the per-(flag, bucket) cumulative window"


def test_events_gap_quantiles_prefix_sum_shape(spark):
    """VERDICT r14 #2: events_gap_quantiles must never rank |events| gap
    rows in one global window task.  Pin the lesson-38 prefix-sum shape
    (the same geometry test_quantile_disc_price_prefix_sum_shape pins):
    every WindowExec over corpus-sized input partitions by user_id (the
    lag) or by bucket (the cumulative); unpartitioned windows are
    allowed ONLY over the <=GAP_QUANTILE_BUCKETS-row partials aggregate
    (their subtree must contain the bucket-keyed aggregate), and the
    distinct-gap counts subtree must be ReuseExchange-deduped so the
    lag+agg runs once, not 3x."""
    from mini_hadoop_spark.operators.events import events_gap_quantiles

    df = events_gap_quantiles(spark, SF_DIR)
    windows = []

    def walk(node):
        if node.getClass().getSimpleName() == "WindowExec":
            windows.append(node)
        for k in _jseq(node.children()):
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    assert windows, "expected window nodes in the gap-quantile plan"
    saw_bucketed = False
    for w in windows:
        keys = [str(e) for e in _jseq(w.partitionSpec())]
        if any("bucket" in k for k in keys):
            saw_bucketed = True
            continue
        if any("user_id" in k for k in keys):
            continue  # the per-user lag window — partitioned, fine
        subtree = w.child().treeString()
        assert "bucket" in subtree and "Aggregate" in subtree, (
            "unpartitioned window over non-partials input (single-task "
            f"global sort at scale); partition keys={keys}\n{subtree[:2000]}"
        )
    assert saw_bucketed, "expected the per-bucket cumulative window"
    # static-planner exchange reuse (AQE reuses stages at runtime but
    # hides it from the initial explain) — same check as the quantile pin
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            events_gap_quantiles(spark, SF_DIR).explain("formatted")
        assert "ReusedExchange" in buf.getvalue(), (
            "events_gap_quantiles plans no exchange reuse — the per-gap "
            "counts aggregation would recompute per branch"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def _take_ordered_picker_plans():
    """The three md5-rank sample pickers (VERDICT r14 #1): each must
    compile its deterministic sample pick to TakeOrderedAndProject
    (distributed per-partition top-K heaps) instead of a single-task
    no-partition rank window.  Builders return the full real plan the
    pick is embedded in."""
    from mini_hadoop_spark.operators import relational_ext, similarity

    def ann_pick(spark, sf_dir):
        from mini_hadoop_spark.operators.similarity import _vectors, ann_query_ids

        return ann_query_ids(_vectors(spark, sf_dir))

    def matryoshka_pick(spark, sf_dir):
        # the full query hides the pick behind a driver collect, so pin
        # the pick it collects (ids plus the e payload) directly
        from mini_hadoop_spark.operators.similarity import (
            MATRYOSHKA_QUERY_BUDGET,
            _vectors,
            ann_query_ids,
        )

        return ann_query_ids(
            _vectors(spark, sf_dir).select("vec_id", "e"), MATRYOSHKA_QUERY_BUDGET, ("e",)
        )

    def outlier_audit(spark, sf_dir):
        from mini_hadoop_spark.operators.similarity import embedding_outlier_audit

        return embedding_outlier_audit(spark, sf_dir)

    def vocab_curve(spark, sf_dir):
        from mini_hadoop_spark.operators.text_scoring import vocab_coverage_curve

        return vocab_coverage_curve(spark, sf_dir)

    def rfm_pick(spark, sf_dir):
        # the full query hides the pick behind a localCheckpoint (r17
        # sample-reuse optimization), so pin the pre-checkpoint builder
        # directly — same pattern as matryoshka_pick
        return relational_ext._rfm_sample_pick(
            relational_ext._rfm_per_customer(spark, sf_dir)
        )

    return {
        "ann_query_ids": ann_pick,
        "matryoshka_pick": matryoshka_pick,
        "rfm_approx": rfm_pick,
        # r16 limit-first rewrites (VERDICT r15 #1/#3): the top-K is an
        # explicit orderBy().limit() TakeOrdered, and the rank/cumsum
        # windows run only over the <=K survivors
        "embedding_outlier_audit": outlier_audit,
        "vocab_coverage_curve": vocab_curve,
    }


@pytest.mark.parametrize("name", sorted(_take_ordered_picker_plans()))
def test_sample_pickers_take_ordered(spark, name):
    """Pin VERDICT r14 #1's fix: the sample pick is a distributed
    TakeOrderedAndProject, and every remaining unpartitioned window in
    the plan sits above a TakeOrdered/Limit bound (the sample), never
    above corpus-sized input — stricter than the generic guard, which
    accepts any aggregate as a bound."""
    df = _take_ordered_picker_plans()[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, (
        f"{name}: sample pick did not compile to TakeOrderedAndProject:\n{plan}"
    )

    bad = []

    def walk(node):
        nm = node.getClass().getSimpleName()
        if nm in ("WindowExec", "WindowInPandasExec") and node.partitionSpec().isEmpty():
            sub = node.child().treeString()
            if "TakeOrderedAndProject" not in sub and "Limit" not in sub:
                bad.append(node.simpleString(120))
        for k in _jseq(node.children()):
            walk(k)

    walk(df._jdf.queryExecution().sparkPlan())
    assert not bad, (
        f"{name} still plans an unpartitioned window without a top-K "
        "bound below it:\n" + "\n".join(bad)
    )


#: Per-GROUP top-k queries that rank a corpus-sized input partitioned by
#: a LOW-cardinality key (l_returnflag = 3 groups, lang = a handful):
#: without Spark's InferWindowGroupLimit rewrite each group would be one
#: task holding |corpus|/|groups| rows — the partitioned cousin of the
#: global-window defect class.  The rewrite only fires while the rank
#: filter sits adjacent to the window, so pin the plan shape: a
#: Partial-mode WindowGroupLimit must appear below the window.
WINDOW_GROUP_LIMIT_PINNED = (
    "window_topk_with_ties",
    "sample_stratified_per_lang",
)


@pytest.mark.parametrize("name", WINDOW_GROUP_LIMIT_PINNED)
def test_per_group_topk_plans_window_group_limit(spark, name):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan, (
        f"{name}: per-group rank filter no longer compiles to a partial "
        f"WindowGroupLimit — each low-cardinality group becomes one "
        f"corpus-sized task:\n{plan[:2000]}"
    )


def test_plan_audit_counts_arrow_map_kernels(spark):
    """tools/plan_audit.py counts a mapInArrow kernel (the matryoshka
    scorer's node) among the Arrow-batched Python nodes."""
    from tools.plan_audit import plan_stats

    df = spark.range(4).mapInArrow(lambda batches: batches, "id long")
    assert plan_stats(df)["python_arrow"] == 1
