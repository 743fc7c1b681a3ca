"""In-engine linear-classifier training: DISTILL an expensive rule
filter into a fast hashed linear scorer — the production curation
pattern (CCNet trains a fastText classifier to imitate expensive
quality judgments, Wenzek et al. 2020; DCLM/FineWeb distill LLM quality
labels the same way), expressed as registered, fully-oracled queries.

Teacher: the Gopher rule filter already in this repo
(``quality_gopher_rules``, text_scoring.py — Rae et al. 2021 §A1.1);
its conjunctive ``keep`` flag is the training label, so the label is
itself engine-exact and needs no side data.  Student: a MINI-BATCH
PERCEPTRON over hashed bag-of-token presence features:

* features — token → md5 bucket in [0, CLS_BUCKETS); BINARY presence
  per (doc, bucket) (the hashing trick; presence, not counts, keeps
  update magnitudes commensurate across document lengths — measured:
  count features never converge on this teacher).
* training — CLS_EPOCHS passes over CLS_BATCHES deterministic
  mini-batches (md5(doc_id) % B — the engine-portable analogue of
  shuffled SGD; epochs revisit the same batch order, as fixed-seed
  trainers do).  Each step updates w ← w + Σ_{i∈batch: y_i·m_i ≤ 0}
  y_i·x_i under the CURRENT weights.  Mini-batch (not full-batch)
  updates are load-bearing: the full-batch unit-rate perceptron RINGS
  on this imbalanced teacher (453 keep / 47 reject oscillates between
  all-positive and all-negative — measured at 4/8/16/32 epochs), while
  16 small deterministic steps per epoch converge to 95% training
  accuracy by epoch 3.
* everything is an exact integer (presence, weights, margins), so
  training is bit-identical across engines and the DuckDB oracle
  replays the full step chain as unrolled u{k}/w{k} CTEs — the
  pagerank/BPE iterative-oracle discipline, with the teacher's oracle
  embedded as the labels CTE (audit-query composition, DESIGN lesson
  27).

Six registered queries share one memoized feature build:

* ``classifier_train_curve`` — end-of-epoch full-corpus
  misclassification counts + integer weight checksums (the
  does-training-converge curve: 47 → 25 here, with rejects actually
  being caught from epoch 2 on).
* ``classifier_eval_confusion`` — confusion counts per actual teacher
  label under the final weights (TRAIN-SET evaluation — the flattered
  number; kept because its oracle certifies the full-corpus chain).
* ``classifier_holdout_confusion`` (r14) — the honest number: train on
  the content-hash train split (sampling.split_label's 80/10/10),
  evaluate on the val split the trainer never saw; fully oracled (the
  w-chain CTEs filter updates to the train split).
* ``classifier_train_prod`` (r14, rows-only) — the PRODUCTION geometry:
  batch SIZE held constant (CLS_PROD_BATCH_SIZE), step count grows
  with the corpus; determinism/accuracy pytest-gated, per-step cost
  measured flat in the 100x smoke (SCALE_CLASSIFIER.json).
* ``pipeline_distilled_manifest`` (r14) — the APPLY stage: the cheap
  student scores the whole corpus and the per-(source, lang) kept
  docs/tokens manifest falls out of one scan + one hash agg.
* ``streaming_classifier_drain`` (streaming/windowed.py) — the SERVE
  half: every newly landed shard scored at ingest under the frozen
  weights via :func:`score_docs`.

Scale posture: the feature build is ONE map-combined shuffle keyed by
(doc_id, bucket), folded to a per-doc bucket array and checkpointed
once per (session, corpus) — corpus-linear, like every token aggregate
here.  Each training step is then a single narrow scan of its batch's
slice (the weight vector inlines as ONE literal-array expression — no
join, no broadcast exchange) plus a bucket-keyed update aggregate that
collects ≤ CLS_BUCKETS integers — the collected state is MODEL-sized,
never corpus-sized (the bounded-collect rule, DESIGN.md lesson 35).
Steps per corpus are a fixed constant (CLS_EPOCHS × CLS_BATCHES = 48);
each step's UPDATE touches 1/B of the corpus, but its scan reads the
whole compact checkpoint (a batch filter does not prune an in-memory
table) — 48 cheap columnar scans total.  The registered scale path,
``classifier_train_prod``, removes even that: its training table is
staged to parquet partitioned by batch id, so each step's scan prunes
to its own batch directory and per-step I/O is batch-sized at any
corpus size (measured flat at 100x, SCALE_CLASSIFIER.json).

Honest limit: the oracle chain's length is fixed at import time, so
the step count cannot grow with the corpus — at larger SFs the
per-batch size grows and the later epochs can wobble (mini-batch SGD's
batch size is normally held constant by taking MORE steps, which a
constant-length cross-engine oracle cannot express).  The registered
geometry is correctness-first: the training MECHANICS are what the
oracle certifies bit-for-bit.  Since r14 the production geometry is
ALSO registered — ``classifier_train_prod`` fixes the batch size,
derives the step count from the corpus, and keeps the identical
per-step plan (rows-only; the oracled form is its correctness twin,
the same split the xxhash64/md5 dedup pairs use).

Reference parity: extension surface (the reference ships no model
training); the iterative driver mirrors mini_hadoop.ex:53-73's
run-job-then-feed-results-back loop shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_hadoop_spark.functions.partitioning import spread_table
from mini_hadoop_spark.functions.text import round_half_up, sql_round_half_up, tokens
from mini_hadoop_spark.operators.sampling import (
    SPLIT_BUCKETS,
    TRAIN_UPTO,
    VAL_UPTO,
    split_label,
)
from mini_hadoop_spark.operators.text_scoring import (
    QUALITY_GOPHER_SQL,
    quality_gopher_rules,
)
from mini_hadoop_spark.session import build_once
from mini_hadoop_spark.sources.catalog import load_table

#: hashed-feature dimensionality (the hashing-trick width).  64 keeps
#: the broadcast weight vector tiny; production widths (2^18+) change
#: only this constant — the weight vector stays model-sized either way.
CLS_BUCKETS = 64
#: mini-batch SGD geometry — fixed constants, mirrored by the oracle's
#: unrolled step chain.  3×16 = 48 steps reach 95% training accuracy
#: on this teacher (measured; see module docstring).
CLS_EPOCHS = 3
CLS_BATCHES = 16

def _md5_mod(col, modulus: int) -> F.Column:
    """First 8 md5 hex chars → long → mod ``modulus`` — the ONE
    engine-identical hash used for feature buckets AND mini-batch ids
    (DuckDB twin: ``('0x' || substr(md5(x), 1, 8))::BIGINT % m``).
    Single definition on purpose: training, serving and the oracle's
    feats/labels CTEs must all hash identically, so there is exactly
    one Spark-side copy to keep in sync with the SQL."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
        F.lit(modulus),
    )


def _bucket_of(tok_col) -> F.Column:
    """Feature bucket of a token column."""
    return _md5_mod(tok_col, CLS_BUCKETS)


def _batch_of(col) -> F.Column:
    """Deterministic md5 mini-batch id of a doc_id column — derivable on
    both the labels and features side, so each training step can filter
    BOTH inputs to its batch before any join."""
    return _md5_mod(col.cast("string"), CLS_BATCHES)


def _doc_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, buckets array<long>): each doc's DISTINCT sorted feature
    buckets — the shared explode/distinct/fold pipeline behind training
    (_doc_table) and serving (score_docs)."""
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", _bucket_of(F.col("tok")).alias("bucket"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("bucket")).alias("buckets"))
    )


def _labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, keep, y, batch): the teacher's keep flag as ±1 — a
    projection of the already-registered Gopher rule query — plus the
    deterministic md5 mini-batch assignment."""
    g = quality_gopher_rules(spark, sf_dir)
    y = F.when(F.col("keep"), F.lit(1)).otherwise(F.lit(-1))
    return g.select(
        "doc_id", "keep", y.cast("long").alias("y"), _batch_of(F.col("doc_id")).alias("batch")
    ).coalesce(8)


def _doc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc — (doc_id, keep, y, batch, buckets array<long>):
    the features folded to an array so every training step is a single
    narrow scan (no per-step join; the weight vector rides along as a
    literal map expression).  n rows, ≤ CLS_BUCKETS array elements.
    Memoized + checkpointed per (session, corpus): training takes ~50
    passes over it and the eval query one more — one feature build
    serves them all.  bench's iterative_models group calls this from
    concurrent driver threads; build_once makes them share one build
    instead of each running the feature pipeline."""

    def build() -> DataFrame:
        raw = spread_table(spark, sf_dir, "documents")
        feats = _doc_buckets(raw)
        # content-hash split (sampling.split_label — the SAME 80/10/10
        # md5(text) rule the split operators register), so the holdout
        # family trains/evaluates on engine-exact split membership
        splits = raw.select("doc_id", split_label(F.col("text")).alias("split"))
        return (
            _labels(spark, sf_dir)
            .join(feats, "doc_id", "left")
            .join(splits, "doc_id")
            .withColumn(
                "buckets", F.coalesce(F.col("buckets"), F.array().cast("array<bigint>"))
            )
            # training steps are batch-sized micro-jobs: a handful of fat
            # partitions beats 32 slivers (48 steps x stages x tasks is
            # pure scheduler overhead otherwise).  At cluster scale the
            # knob is the same — size the checkpoint to per-step volume.
            .coalesce(8)
            .localCheckpoint(eager=True)
        )

    return build_once(spark, sf_dir, "cls_doc_table", build)


def _margin_col(w: dict[int, int]):
    """Integer margin Σ_b∈buckets w[b] as a pure expression: the
    CLS_BUCKETS-entry weight vector inlined as ONE literal array — no
    join, no broadcast exchange, whole-stage codegen.  Built as a
    single expr() string: assembling 64 literals as Column objects
    costs ~0.5 s of py4j round-trips PER STEP (measured), which across
    48 steps would double the training wall."""
    if not w:
        return F.lit(0).cast("long")
    lits = ",".join(f"{int(w.get(b, 0))}L" for b in range(CLS_BUCKETS))
    return F.expr(
        f"aggregate(transform(buckets, b -> element_at(array({lits}), "
        f"cast(b as int) + 1)), 0L, (acc, x) -> acc + x)"
    )


def _run_sgd(
    docs: DataFrame,
    n_batches: int,
    batch_col: str = "batch",
    epochs: int = CLS_EPOCHS,
    with_stats: bool = True,
) -> tuple:
    """The mini-batch perceptron loop shared by every training variant:
    ([per-epoch stats], final weights dict).  Stats row t = (epoch,
    n_misclassified, n_correct) over ``docs`` under the end-of-epoch
    weights, plus their integer (weight_l1, weight_sum) checksums;
    ``with_stats=False`` skips the stats job entirely (the holdout
    trainer only needs the final weights).

    The stats run as ONE batched end-of-run job (r15, VERDICT r14 #5):
    the end-of-epoch weight snapshots are all driver-side dicts by the
    time training finishes, so every epoch's misclassification count is
    a conditional aggregate under that epoch's literal-array margin in
    a single projection over ONE scan — 1 job replaces the former
    epochs+1 full-pass jobs (initial count + one count per epoch),
    bit-identical integers, same oracle."""
    w: dict[int, int] = {}
    snaps: list[dict[int, int]] = []
    for _epoch in range(1, epochs + 1):
        for j in range(n_batches):
            # one job per step: batch scan -> misclassified -> per-bucket
            # update sums -> collect (≤ CLS_BUCKETS rows — model-sized)
            delta = (
                docs.filter(F.col(batch_col) == j)
                .withColumn("m", _margin_col(w))
                .filter(F.col("y") * F.col("m") <= 0)
                .select("y", F.explode("buckets").alias("bucket"))
                .groupBy("bucket")
                .agg(F.sum("y").alias("d"))
                .collect()
            )
            for r in delta:
                w[int(r.bucket)] = w.get(int(r.bucket), 0) + int(r.d)
        if with_stats:
            snaps.append(dict(w))
    if not with_stats:
        return [], w
    row = docs.agg(
        F.count("*").alias("n_docs"),
        *[
            F.count(F.when(F.col("y") * _margin_col(ws) <= 0, 1)).alias(f"miscl_{e}")
            for e, ws in enumerate(snaps, 1)
        ],
    ).collect()[0]
    n_docs = int(row["n_docs"])
    stats = [
        (
            e,
            int(row[f"miscl_{e}"]),
            n_docs - int(row[f"miscl_{e}"]),
            int(sum(abs(v) for v in ws.values())),
            int(sum(ws.values())),
        )
        for e, ws in enumerate(snaps, 1)
    ]
    return stats, w


def _train(spark: SparkSession, sf_dir: str) -> tuple:
    """Memoized training run over the FULL corpus (the oracled 48-step
    geometry): ([per-epoch stats], final weights dict)."""
    return build_once(
        spark, sf_dir, "cls_train", lambda: _run_sgd(_doc_table(spark, sf_dir), CLS_BATCHES)
    )


def _train_holdout(spark: SparkSession, sf_dir: str) -> dict[int, int]:
    """Memoized training run over ONLY the content-hash train split
    (80%) — final weights for held-out evaluation.  Same 48-step
    geometry and batch rule as :func:`_train` (md5(doc_id) % B over the
    train docs); skips the per-epoch stats jobs (only the final weights
    are consumed)."""

    def build() -> tuple:
        docs = _doc_table(spark, sf_dir).filter(F.col("split") == "train")
        return _run_sgd(docs, CLS_BATCHES, with_stats=False)

    return build_once(spark, sf_dir, "cls_train_holdout", build)[1]


def classifier_train_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: the mini-batch perceptron training curve — per
    epoch the full-corpus misclassification count under the
    end-of-epoch weights and their integer L1/sum checksums."""
    stats, _ = _train(spark, sf_dir)
    return spark.createDataFrame(
        stats,
        "epoch bigint, n_misclassified bigint, n_correct bigint, "
        "weight_l1 bigint, weight_sum bigint",
    )


def classifier_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: confusion counts per actual teacher label under
    the FINAL weights — docs, predicted-keep (margin > 0), and correct
    predictions (predicted-keep iff teacher keep)."""
    _, w = _train(spark, sf_dir)
    m = _doc_table(spark, sf_dir).withColumn("m", _margin_col(w))
    pred_keep = F.col("m") > 0
    return m.groupBy("keep").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(pred_keep, 1)).alias("n_pred_keep"),
        F.count(F.when(pred_keep == F.col("keep"), 1)).alias("n_correct"),
    )


def classifier_holdout_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r14, VERDICT r13 #3): HELD-OUT confusion —
    train on the content-hash train split (80%), evaluate on the val
    split (10%) the trainer never saw.  This is the honest
    distillation-quality number (CCNet's own methodology, Wenzek et
    al. 2020 — the module's cited precedent): train-set confusion
    flatters the student.  Measured gap at sf0.01: train-set accuracy
    95.4% (477/500, classifier_eval_confusion) vs held-out 93.6%
    (44/47 on the val split) — ~2 points of optimistic bias in the
    train-set number at this SF, and the val split is where the number
    stops being flattered as corpora grow.  Same schema as
    classifier_eval_confusion; fully
    oracled (the unrolled w-chain CTEs filter their update steps to the
    train split, the final margin CTE to the val split)."""
    w = _train_holdout(spark, sf_dir)
    m = (
        _doc_table(spark, sf_dir)
        .filter(F.col("split") == "val")
        .withColumn("m", _margin_col(w))
    )
    pred_keep = F.col("m") > 0
    return m.groupBy("keep").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(pred_keep, 1)).alias("n_pred_keep"),
        F.count(F.when(pred_keep == F.col("keep"), 1)).alias("n_correct"),
    )


#: production-geometry batch SIZE (docs per mini-batch step).  Held
#: CONSTANT as the corpus grows — the step count scales instead, which
#: is what keeps every step's scan/update volume flat at 100 TB (the
#: honest-limit note below: the oracled 48-step form fixes the step
#: COUNT for the cross-engine CTE chain, so its batch size grows with
#: the corpus; this variant is the scale-true geometry, registered
#: rows-only exactly like the xxhash64 dedup forms whose md5 twins
#: carry the hash evidence).
CLS_PROD_BATCH_SIZE = 256


def _train_prod(spark: SparkSession, sf_dir: str) -> tuple:
    """Memoized CONSTANT-BATCH-SIZE training run over the train split
    (VERDICT r13 #5 — the production geometry): n_batches =
    ceil(n_train / CLS_PROD_BATCH_SIZE) derived from the corpus, so
    batch size stays ~CLS_PROD_BATCH_SIZE and the step count grows
    linearly with the corpus.  Deterministic: batches are
    md5(doc_id) % n_batches, updates exact integers.

    Per-step FLATNESS needs partition pruning, not just a filter: a
    `pbatch == j` filter over the checkpointed table still SCANS the
    whole corpus every step (measured: per-step 155 -> 233 ms on a
    100x corpus — the scan term grows even though the batch doesn't).
    The training table is therefore staged to parquet PARTITIONED BY
    pbatch — each step's scan prunes to its own batch directory, so
    per-step I/O is batch-sized at any corpus size (the same reason
    production SGD shards its training data by batch/worker).  The
    staging is one linear write, reclaimed as soon as the collected
    stats/weights exist."""

    def build() -> tuple:
        import shutil
        import tempfile
        import time

        docs = _doc_table(spark, sf_dir).filter(F.col("split") == "train")
        t0 = time.perf_counter()
        n_train = docs.count()
        n_batches = max(1, -(-n_train // CLS_PROD_BATCH_SIZE))
        docs = docs.withColumn(
            "pbatch", _md5_mod(F.col("doc_id").cast("string"), n_batches)
        )
        t1 = time.perf_counter()
        if n_train == 0:
            # an empty train split (every text hashed into val/test)
            # degrades to zero updates like _train/_train_holdout would;
            # partitionBy on an empty frame writes no parquet files and
            # read-back cannot infer a schema, so skip the staging
            stats, w = _run_sgd(docs, n_batches, batch_col="pbatch")
            phases = {"count_s": t1 - t0, "stage_s": 0.0, "train_s": 0.0}
            return (n_train, n_batches, stats, w, phases)
        root = tempfile.mkdtemp(prefix="cls_prod_batches_")
        try:
            docs.write.partitionBy("pbatch").mode("overwrite").parquet(root)
            staged = spark.read.parquet(root)
            t2 = time.perf_counter()
            stats, w = _run_sgd(staged, n_batches, batch_col="pbatch")
            t3 = time.perf_counter()
        finally:
            shutil.rmtree(root, ignore_errors=True)
        # per-phase walls so the scale smoke can report a per-step cost
        # that is actually training (incl. the per-epoch eval jobs), not
        # staging or the split count
        phases = {"count_s": t1 - t0, "stage_s": t2 - t1, "train_s": t3 - t2}
        return (n_train, n_batches, stats, w, phases)

    return build_once(spark, sf_dir, "cls_train_prod", build)


def classifier_train_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only — no cross-engine oracle can unroll a
    corpus-dependent step count): the constant-batch-size training
    curve.  Per epoch: steps taken, train-split misclassification under
    the end-of-epoch weights, and the integer weight checksums.
    Determinism and accuracy are pytest-gated
    (tests/test_classifier.py); the oracled 48-step twin
    (classifier_train_curve) certifies the identical per-step plan
    bit-for-bit."""
    n_train, n_batches, stats, _, _ = _train_prod(spark, sf_dir)
    rows = [
        (epoch, int(CLS_PROD_BATCH_SIZE), int(n_batches), miscl, corr, l1, s)
        for (epoch, miscl, corr, l1, s) in stats
    ]
    return spark.createDataFrame(
        rows,
        "epoch bigint, batch_size bigint, n_steps_per_epoch bigint, "
        "n_misclassified bigint, n_correct bigint, weight_l1 bigint, "
        "weight_sum bigint",
    )


def pipeline_distilled_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (r14): APPLY the distilled student to the WHOLE
    corpus — the distillation endgame (CCNet, Wenzek et al. 2020: the
    expensive teacher labels a sample to train the student; curation
    then runs the cheap student over everything).  Per (source, lang):
    document count, student-kept count, kept share, and kept token
    volume — the manifest a pretraining data mix is planned from.

    Plan: the memoized holdout-trained weights inline as one literal
    array over the memoized doc table (margins = a codegen projection
    of the compact checkpoint), equi-joined 1:1 on doc_id to a single
    documents scan carrying (source, lang, token count), then one
    map-combined hash agg keyed by (source, lang).  At 100 TB this is
    one corpus scan + the model projection — the cheapness that is the
    entire point of distilling the teacher.  Fully oracled: the holdout
    w-chain CTEs score every doc (me{T} carries all splits), joined to
    the documents tokenization."""
    w = _train_holdout(spark, sf_dir)
    scored = (
        _doc_table(spark, sf_dir)
        .withColumn("m", _margin_col(w))
        .select("doc_id", (F.col("m") > 0).alias("pred_keep"))
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.coalesce(F.size(tokens("text")), F.lit(0)).cast("long").alias("n_toks"),
    )
    kept = F.count(F.when(F.col("pred_keep"), 1))
    return (
        d.join(scored, "doc_id")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            kept.alias("n_kept"),
            round_half_up(
                kept.cast("double") / F.count("*").cast("double"), 6
            ).alias("kept_share"),
            F.coalesce(
                F.sum(F.when(F.col("pred_keep"), F.col("n_toks"))), F.lit(0)
            ).alias("kept_tokens"),
        )
    )


def _distilled_manifest_sql() -> str:
    return (
        "WITH " + _cls_ctes(holdout=True) + f""",
scores AS (SELECT doc_id, m > 0 AS pred_keep FROM me{CLS_EPOCHS}),
toks AS (
  SELECT doc_id, source, lang,
         coalesce(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)::BIGINT AS n_toks
  FROM documents
)
SELECT source, lang, count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE pred_keep)::BIGINT AS n_kept,
       {sql_round_half_up("count(*) FILTER (WHERE pred_keep)::DOUBLE / count(*)::DOUBLE", 6)} AS kept_share,
       coalesce(sum(n_toks) FILTER (WHERE pred_keep), 0)::BIGINT AS kept_tokens
FROM toks JOIN scores USING (doc_id)
GROUP BY source, lang
"""
    )


def score_docs(docs: DataFrame, w: dict[int, int]) -> DataFrame:
    """Score documents under FROZEN weights — (doc_id, margin,
    pred_keep).  Doc-local by construction (each row's margin depends
    on that row's text alone — no teacher, no corpus statistics at
    serve time), so scoring composes under ANY sharding: the union of
    per-shard scores equals the whole-corpus scoring.  This is the
    serve half of the distillation (the streaming ingest drain scores
    every new shard with it); the weight vector inlines as the same
    literal-array expression training uses — zero shuffle beyond the
    per-doc bucket fold."""
    return (
        docs.select("doc_id")
        .join(_doc_buckets(docs), "doc_id", "left")
        .withColumn("buckets", F.coalesce(F.col("buckets"), F.array().cast("array<bigint>")))
        .withColumn("margin", _margin_col(w))
        .select("doc_id", "margin", (F.col("margin") > 0).alias("pred_keep"))
    )


def _cls_ctes(holdout: bool = False) -> str:
    """The training step chain unrolled as DuckDB CTEs (feats/labels →
    u1/w1 → … → u{T·B}/w{T·B}, plus per-epoch full-corpus margin CTEs
    me{t}) — the iterative-oracle discipline shared with
    pagerank_converged and the BPE trainer; the labels CTE embeds the
    Gopher teacher's own oracle.  Step k's margins u{k} are measured
    under w{k-1} over batch (k-1) % B only; w{k} = w{k-1} + the batch's
    misclassified y·x, folded as a UNION ALL + re-aggregate so new
    buckets appear without an outer join.

    ``holdout=True`` (r14): the labels CTE gains the content-hash
    80/10/10 split (sampling.SPLIT_SQL's exact rule), every update step
    filters to the TRAIN split, and only the final margin CTE is
    emitted — over the VAL split the chain never trained on."""
    gopher = QUALITY_GOPHER_SQL.strip().rstrip(";")
    if holdout:
        split_b = f"('0x' || substr(md5(d.text), 1, 8))::BIGINT % {SPLIT_BUCKETS}"
        labels_cte = f"""labels AS MATERIALIZED (
  SELECT g.doc_id, g.keep, CASE WHEN g.keep THEN 1 ELSE -1 END::BIGINT AS y,
         ('0x' || substr(md5(g.doc_id::VARCHAR), 1, 8))::BIGINT % {CLS_BATCHES} AS batch,
         CASE WHEN {split_b} < {TRAIN_UPTO} THEN 'train'
              WHEN {split_b} < {VAL_UPTO} THEN 'val'
              ELSE 'test' END AS split
  FROM ({gopher}) g JOIN documents d USING (doc_id)
)"""
        train_pred = " AND l.split = 'train'"
        me_split = " l.split,"
    else:
        labels_cte = f"""labels AS MATERIALIZED (
  SELECT doc_id, keep, CASE WHEN keep THEN 1 ELSE -1 END::BIGINT AS y,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {CLS_BATCHES} AS batch
  FROM ({gopher})
)"""
        train_pred = ""
        me_split = ""
    ctes = [
        f"""feats AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {CLS_BUCKETS} AS bucket,
         1::BIGINT AS cnt
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents)
)""",
        labels_cte,
    ]
    k = 0
    for t in range(1, CLS_EPOCHS + 1):
        for j in range(CLS_BATCHES):
            k += 1
            prev_join = (
                f"LEFT JOIN w{k - 1} w USING (bucket)"
                if k > 1
                else "LEFT JOIN (SELECT NULL::BIGINT AS bucket, NULL::BIGINT AS w WHERE false) w USING (bucket)"
            )
            prev_union = (
                f"SELECT bucket, w FROM w{k - 1}\n    UNION ALL\n    " if k > 1 else ""
            )
            ctes.append(f"""u{k} AS MATERIALIZED (
  SELECT l.doc_id, l.y, coalesce(sum(f.cnt * w.w), 0)::BIGINT AS m
  FROM labels l LEFT JOIN feats f USING (doc_id) {prev_join}
  WHERE l.batch = {j}{train_pred}
  GROUP BY l.doc_id, l.y
)""")
            ctes.append(f"""w{k} AS MATERIALIZED (
  SELECT bucket, sum(w)::BIGINT AS w FROM (
    {prev_union}SELECT f.bucket, u.y * f.cnt AS w
    FROM u{k} u JOIN feats f USING (doc_id) WHERE u.y * u.m <= 0
  ) GROUP BY bucket
)""")
        if holdout and t < CLS_EPOCHS:
            continue  # only the final margin CTE is consumed
        ctes.append(f"""me{t} AS MATERIALIZED (
  SELECT l.doc_id, l.keep, l.y,{me_split} coalesce(sum(f.cnt * w.w), 0)::BIGINT AS m
  FROM labels l
  LEFT JOIN feats f USING (doc_id)
  LEFT JOIN w{k} w USING (bucket)
  GROUP BY l.doc_id, l.keep, l.y{"," + me_split.rstrip(",") if me_split else ""}
)""")
    return ",\n".join(ctes)


def _train_curve_sql() -> str:
    arms = [
        f"""SELECT {t}::BIGINT AS epoch,
       (SELECT count(*) FROM me{t} WHERE y * m <= 0)::BIGINT AS n_misclassified,
       (SELECT count(*) FROM me{t} WHERE y * m > 0)::BIGINT AS n_correct,
       (SELECT coalesce(sum(abs(w)), 0) FROM w{t * CLS_BATCHES})::BIGINT AS weight_l1,
       (SELECT coalesce(sum(w), 0) FROM w{t * CLS_BATCHES})::BIGINT AS weight_sum"""
        for t in range(1, CLS_EPOCHS + 1)
    ]
    return "WITH " + _cls_ctes() + "\n" + "\nUNION ALL\n".join(arms) + "\nORDER BY epoch"


def _eval_confusion_sql() -> str:
    return (
        "WITH " + _cls_ctes() + f"""
SELECT keep, count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE m > 0)::BIGINT AS n_pred_keep,
       count(*) FILTER (WHERE (m > 0) = keep)::BIGINT AS n_correct
FROM me{CLS_EPOCHS} GROUP BY keep
"""
    )


def _holdout_confusion_sql() -> str:
    return (
        "WITH " + _cls_ctes(holdout=True) + f"""
SELECT keep, count(*)::BIGINT AS n_docs,
       count(*) FILTER (WHERE m > 0)::BIGINT AS n_pred_keep,
       count(*) FILTER (WHERE (m > 0) = keep)::BIGINT AS n_correct
FROM me{CLS_EPOCHS} WHERE split = 'val' GROUP BY keep
"""
    )


CLASSIFIER_TRAIN_CURVE_SQL = _train_curve_sql()
CLASSIFIER_EVAL_CONFUSION_SQL = _eval_confusion_sql()
CLASSIFIER_HOLDOUT_CONFUSION_SQL = _holdout_confusion_sql()
PIPELINE_DISTILLED_MANIFEST_SQL = _distilled_manifest_sql()
#: per-doc scores under the final weights — the oracle for the
#: streaming ingest-scoring drain (streaming/windowed.py): scoring is
#: doc-local, so the drained per-shard union must equal this exactly
CLASSIFIER_SCORES_SQL = (
    "WITH " + _cls_ctes() + f"""
SELECT doc_id, m AS margin, m > 0 AS pred_keep FROM me{CLS_EPOCHS}
"""
)


QUERIES = {
    "classifier_train_curve": classifier_train_curve,
    "classifier_eval_confusion": classifier_eval_confusion,
    "classifier_holdout_confusion": classifier_holdout_confusion,
    # rows-only: the corpus-dependent step count cannot unroll into a
    # fixed cross-engine CTE chain (see classifier_train_prod docstring)
    "classifier_train_prod": classifier_train_prod,
    "pipeline_distilled_manifest": pipeline_distilled_manifest,
}

ORACLES = {
    "classifier_train_curve": CLASSIFIER_TRAIN_CURVE_SQL,
    "classifier_eval_confusion": CLASSIFIER_EVAL_CONFUSION_SQL,
    "classifier_holdout_confusion": CLASSIFIER_HOLDOUT_CONFUSION_SQL,
    "pipeline_distilled_manifest": PIPELINE_DISTILLED_MANIFEST_SQL,
}
