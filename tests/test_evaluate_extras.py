"""E5 threshold metrics + AUROC, E1 P/R/F1 vs a pair-set oracle, two-stage blocking,
pipeline determinism."""

from __future__ import annotations

import itertools
import uuid

import numpy as np
from pyspark.sql import functions as F

from entity_resolution_spark.operators import blocking, evaluate
from entity_resolution_spark.operators.blocking import BlockingStage
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.sources.synthetic import make_pages


def test_threshold_metrics(spark):
    rows = [(0.9, True), (0.8, True), (0.6, True), (0.75, False), (0.1, False)]
    df = spark.createDataFrame(rows, ["score", "is_match"])
    m = evaluate.threshold_metrics(df, threshold=0.7).collect()[0]
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (2, 1, 1, 1)
    assert m["precision"] == round(2 / 3, 6)
    assert m["recall"] == round(2 / 3, 6)
    assert m["accuracy"] == 0.6


def test_auroc_perfect_and_random(spark):
    perfect = spark.createDataFrame(
        [(0.9, True), (0.8, True), (0.2, False), (0.1, False)], ["score", "is_match"]
    )
    assert evaluate.auroc(perfect).collect()[0]["auroc"] == 1.0
    inverted = spark.createDataFrame(
        [(0.1, True), (0.2, True), (0.8, False), (0.9, False)], ["score", "is_match"]
    )
    assert evaluate.auroc(inverted).collect()[0]["auroc"] == 0.0
    ties = spark.createDataFrame(
        [(0.5, True), (0.5, False)], ["score", "is_match"]
    )
    assert evaluate.auroc(ties).collect()[0]["auroc"] == 0.5


def test_two_stage_blocking_composite_keys(spark):
    # stage 1 on title, stage 2 on a date column: child blocks only group
    # records that share a stage-1 key AND a stage-2 key (hierarchical B6)
    import datetime

    rows = [
        (1, "Apollo", datetime.date(2020, 5, 1)),
        (2, "Apollo", datetime.date(2020, 5, 1)),
        (3, "Apollo", datetime.date(1999, 1, 7)),
        (4, "Baldwin", datetime.date(2020, 5, 1)),
    ]
    df = spark.createDataFrame(rows, ["record_id", "title", "d"])
    blocks = blocking.block(
        df,
        [BlockingStage("title", "phonetic_combination"), BlockingStage("d", "two_of_three_date")],
    )
    from entity_resolution_spark.operators import pairs as P

    got = {
        (r["id1"], r["id2"]): r["weight"] for r in P.edge_weights(blocks).collect()
    }
    # Reference weight semantics (block_tree.py:161-199): co-occurrence counts
    # in EVERY hierarchy level's blocks (level 0 skipped).  1,2 share 5
    # stage-1 title blocks + 5x3 stage-2 composites; 3 shares only the 5
    # stage-1 title blocks with each of 1,2 (different date); 4 shares nothing.
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == 5 + 5 * 3
    assert got[(1, 3)] == 5 and got[(2, 3)] == 5


def test_pipeline_deterministic_across_partitioning(spark):
    corpus = make_pages(n_entities=40, hot_key_rows=10)
    pages = spark.createDataFrame(corpus.pages)
    a1 = sorted(
        map(tuple, pipeline.resolve(pages.repartition(1)).select("url", "component_id").collect())
    )
    a16 = sorted(
        map(tuple, pipeline.resolve(pages.repartition(16)).select("url", "component_id").collect())
    )
    assert a1 == a16


def test_auroc_null_scores_dropped(spark):
    """NULL scores (e.g. from left joins) must not crash the binned AUROC;
    they are excluded from the ranking."""
    df = spark.createDataFrame(
        [(0.9, True), (0.1, False), (None, True), (0.5, False)],
        "score double, is_match boolean",
    )
    assert evaluate.auroc(df).collect()[0]["auroc"] == 1.0


def _pair_set(assignment):
    """Same-cluster record pairs, as the reference's ``perf_metrics.py``."""
    members: dict = {}
    for rec, cluster in assignment:
        if cluster is not None:
            members.setdefault(cluster, []).append(rec)
    return {
        tuple(sorted(p))
        for m in members.values()
        for p in itertools.combinations(m, 2)
    }


def test_evaluate_against_truth_matches_pair_set_oracle(spark):
    """Counting from cluster sizes == Python-set pair metrics, with records
    missing from either side and null cluster ids on both sides."""
    rng = np.random.default_rng(11)
    for trial in range(4):
        n = int(rng.integers(5, 80))
        urls = [f"https://e{trial}.example/{i}" for i in range(n)]
        rid = dict(
            spark.createDataFrame([(u,) for u in urls], "url string")
            .select("url", F.xxhash64("url"))
            .collect()
        )

        def label(k):
            return None if rng.random() < 0.1 else int(rng.integers(0, k))

        truth = [(u, label(n // 3 + 1)) for u in urls if rng.random() > 0.15]
        assignment = [
            (rid[u], label(n // 4 + 1)) for u in urls if rng.random() > 0.15
        ] + [(int(x), label(3)) for x in rng.integers(-(1 << 62), 1 << 62, size=3)]

        pred = _pair_set(assignment)
        true = _pair_set([(rid[u], e) for u, e in truth])
        tp, fp, fn = len(pred & true), len(pred - true), len(true - pred)
        pr = tp / (tp + fp) if tp + fp else 0.0
        rc = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * pr * rc / (pr + rc) if pr * rc > 0 else 0.0

        m = pipeline.evaluate_against_truth(
            spark.createDataFrame(assignment, "record_id long, component_id long"),
            spark.createDataFrame(truth, "url string, entity_id long"),
        ).collect()[0]
        assert (m["tp"], m["fp"], m["fn"]) == (tp, fp, fn), trial
        assert (m["precision"], m["recall"], m["f1"]) == (pr, rc, f1), trial


def test_cluster_pair_metrics_runs_one_pass(spark):
    """One join, one cube and one aggregation: at most 8 Spark jobs under
    AQE (each shuffle map stage is a job)."""
    pred = spark.createDataFrame(
        [(i, i // 4) for i in range(40)] + [(99, None)], "record_id long, cluster long"
    )
    true = spark.createDataFrame(
        [(i, i // 5) for i in range(5, 45)], "record_id long, cluster long"
    )
    sc = spark.sparkContext
    group = f"cpm-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "cluster_pair_metrics")
    try:
        m = evaluate.cluster_pair_metrics(pred, true).collect()[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 8
    pred_pairs = _pair_set([(i, i // 4) for i in range(40)])
    true_pairs = _pair_set([(i, i // 5) for i in range(5, 45)])
    assert (m["tp"], m["fp"], m["fn"]) == (
        len(pred_pairs & true_pairs),
        len(pred_pairs - true_pairs),
        len(true_pairs - pred_pairs),
    )
