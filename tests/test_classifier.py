"""Behavior tests for the classifier-distillation family (classifier.py)
— the oracle battery covers cross-engine hashes; these pin the
semantics: training invariants, the cross-query weight-sharing memo,
and that the student actually LEARNS the teacher at the driver's SF."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR, checkpoint_rdd_id, persistent_rdd_ids


def test_curve_invariants_and_eval_consistency(spark):
    """Per-epoch counts partition the corpus; weight checksums are
    coherent (|Σw| ≤ Σ|w|); and the eval query's misclassified total
    equals the final epoch's curve row — the me{T} identity that ties
    the two registered queries to ONE training run."""
    from mini_hadoop_spark.operators import classifier

    curve = classifier.classifier_train_curve(spark, SF_DIR).orderBy("epoch").collect()
    assert [r.epoch for r in curve] == list(range(1, classifier.CLS_EPOCHS + 1))
    n_docs = curve[0].n_misclassified + curve[0].n_correct
    for r in curve:
        assert r.n_misclassified + r.n_correct == n_docs
        assert abs(r.weight_sum) <= r.weight_l1

    conf = classifier.classifier_eval_confusion(spark, SF_DIR).collect()
    assert sum(r.n_docs for r in conf) == n_docs
    eval_miscl = sum(r.n_docs - r.n_correct for r in conf)
    assert eval_miscl == curve[-1].n_misclassified


def test_training_memoized_across_queries(spark):
    """Both registered queries must share ONE memoized training run per
    (session, corpus) — the build-once model discipline bench.py
    itemizes as classifier_model."""
    from mini_hadoop_spark import session
    from mini_hadoop_spark.operators import classifier

    classifier.classifier_train_curve(spark, SF_DIR).collect()
    key = (spark.sparkContext.applicationId, os.path.normpath(SF_DIR), "cls_train")
    assert key in session._memo
    memo_obj = session._memo[key]
    classifier.classifier_eval_confusion(spark, SF_DIR).collect()
    assert session._memo[key] is memo_obj


def test_student_learns_teacher_at_driver_sf(spark):
    """At the driver's sf0.01 the distilled student must actually learn:
    training error drops from the first epoch and a real share of the
    teacher's REJECTS is caught (the all-keep degenerate model catches
    zero) — the quality bar that made mini-batches load-bearing."""
    import pytest

    from mini_hadoop_spark.operators import classifier

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.01 corpus not present")
    curve = classifier.classifier_train_curve(spark, sf_dir).orderBy("epoch").collect()
    assert curve[-1].n_misclassified < curve[0].n_misclassified
    conf = {r.keep: r for r in classifier.classifier_eval_confusion(spark, sf_dir).collect()}
    assert conf[False].n_correct >= conf[False].n_docs // 2, (
        "student catches under half the teacher's rejects — distillation regressed"
    )
    assert conf[True].n_correct >= conf[True].n_docs * 9 // 10


def test_holdout_confusion_disjoint_and_honest(spark):
    """r14 (VERDICT r13 #3): the holdout query evaluates ONLY the val
    split (10% of docs), its totals match the split operator's val
    counts, and the trainer never saw a val doc (train/val disjoint by
    the content-hash rule)."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators import classifier

    conf = classifier.classifier_holdout_confusion(spark, SF_DIR).collect()
    n_val_eval = sum(r.n_docs for r in conf)
    table = classifier._doc_table(spark, SF_DIR)
    n_val = table.filter(F.col("split") == "val").count()
    n_total = table.count()
    assert n_val_eval == n_val
    assert 0 < n_val < n_total  # a real held-out set, not empty/everything
    # every doc has exactly one split label
    assert (
        table.filter(~F.col("split").isin("train", "val", "test")).count() == 0
    )


def test_train_prod_deterministic_and_learns(spark):
    """r14 (VERDICT r13 #5): the constant-batch-size production
    geometry must be (a) deterministic — two cold runs (memo cleared,
    feature table rebuilt) produce identical curves; (b) a real
    learner — final train-split accuracy >= 85% (the near-full-batch
    regime at tiny SFs is allowed to trail the 16-batch oracled form's
    95%); (c) correctly sized — n_steps_per_epoch == ceil(n_train /
    CLS_PROD_BATCH_SIZE)."""
    from pyspark.sql import functions as F

    from mini_hadoop_spark.operators import classifier
    from mini_hadoop_spark.session import clear

    first = [tuple(r) for r in classifier.classifier_train_prod(spark, SF_DIR).orderBy("epoch").collect()]
    n_train = (
        classifier._doc_table(spark, SF_DIR).filter(F.col("split") == "train").count()
    )
    exp_batches = max(1, -(-n_train // classifier.CLS_PROD_BATCH_SIZE))
    assert all(r[2] == exp_batches for r in first)
    final = first[-1]
    acc = final[4] / (final[3] + final[4])
    assert acc >= 0.85, f"prod-geometry student stopped learning: {acc:.3f}"

    clear()
    second = [tuple(r) for r in classifier.classifier_train_prod(spark, SF_DIR).orderBy("epoch").collect()]
    assert first == second, "constant-batch training is not deterministic"


def test_clear_memo_frees_checkpoint_blocks(spark):
    """Dataset.unpersist() is a no-op for localCheckpoint blocks (it
    only drops CacheManager entries), so session.clear must unpersist
    the checkpoint RDDs themselves — a cold re-run (the scale smoke
    between corpora) must not keep the prior corpus's doc table in
    executor storage."""
    from mini_hadoop_spark.operators import classifier
    from mini_hadoop_spark.session import clear

    clear()
    before = persistent_rdd_ids(spark)
    table_id = checkpoint_rdd_id(classifier._doc_table(spark, SF_DIR))
    assert persistent_rdd_ids(spark) - before == {table_id}
    clear()
    assert not persistent_rdd_ids(spark) - before


def test_train_prod_empty_train_split(spark, tmp_path):
    """Code-review r14: an empty train split (partitionBy writes zero
    parquet files; read-back cannot infer a schema) must degrade to
    zero updates like the other trainers, not crash."""
    from mini_hadoop_spark.operators import classifier
    from mini_hadoop_spark.sources.catalog import load_table

    d = str(tmp_path / "empty_corpus")
    load_table(spark, SF_DIR, "documents").limit(0).write.parquet(
        d + "/documents.parquet"
    )
    n_train, n_batches, stats, w, _ = classifier._train_prod(spark, d)
    assert n_train == 0 and w == {}
    assert all(s[1] == 0 and s[2] == 0 for s in stats)


def test_checkpoint_id_attribution_exact_under_concurrency(spark):
    """Two artifacts checkpointed by racing build_once calls each own
    exactly their checkpoint RDD, and clear() frees exactly the
    memoized ones: a checkpoint held outside the memo keeps its
    blocks."""
    import threading

    from mini_hadoop_spark.session import build_once, clear

    outside = spark.range(10).localCheckpoint(eager=True)
    outside_id = checkpoint_rdd_id(outside)
    results = {}

    def work(tag, n):
        results[tag] = build_once(
            spark,
            SF_DIR,
            ("ckpt_race", tag, n),
            lambda: spark.range(n).selectExpr("id", "id * 2 AS x").localCheckpoint(eager=True),
        )

    for round_no in range(3):
        t1 = threading.Thread(target=work, args=("a", 1000 + round_no))
        t2 = threading.Thread(target=work, args=("b", 2000 + round_no))
        t1.start(); t2.start(); t1.join(); t2.join()
        da, db = results["a"], results["b"]
        id_a, id_b = checkpoint_rdd_id(da), checkpoint_rdd_id(db)
        assert id_a != id_b
        assert da.count() == 1000 + round_no and db.count() == 2000 + round_no
        assert {id_a, id_b, outside_id} <= persistent_rdd_ids(spark)
        clear()
        live = persistent_rdd_ids(spark)
        assert id_a not in live and id_b not in live
        assert outside_id in live
    assert outside.count() == 10
    spark.sparkContext._jsc.sc().getPersistentRDDs().apply(outside_id).unpersist(False)
