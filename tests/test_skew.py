"""Skew handling: hot blocking keys, salting, block purging (SURVEY §4.2)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from entity_resolution_spark.operators import blocking, pairs
from entity_resolution_spark.operators.blocking import BlockingStage
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.sources.synthetic import make_pages


def test_salted_resolve_f1_on_hot_corpus(spark):
    """Hot key (300-row mega-block) + salting: same F1=1.0 as plain path."""
    corpus = make_pages(n_entities=60, hot_key_rows=300)
    pages = spark.createDataFrame(corpus.pages)
    truth = spark.createDataFrame(corpus.truth)
    cfg = pipeline.ERConfig(salt_buckets=8)
    m = pipeline.evaluate_against_truth(pipeline.resolve(pages, cfg), truth).collect()[0]
    assert m["f1"] == 1.0


def test_salted_pairs_bound_task_size(spark):
    """The salted self-join splits the hot block across s^2 bucket combos:
    no single task holds the whole quadratic block."""
    corpus = make_pages(n_entities=10, hot_key_rows=200)
    pages = spark.createDataFrame(corpus.pages)
    recs = pipeline.extract(pages).select("record_id", "title")
    blocks = blocking.block(recs, [BlockingStage("title", "phonetic_combination")])
    s = 8
    salted = pairs.candidate_pairs_salted(blocks, salt_buckets=s)
    # rows per (block_key, bucket-combo) ~ (B/s)^2; check the max partition-
    # level pair count per combo is far below the full block's B^2
    per_combo = (
        salted.groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    hot_pairs = 200 * 199 // 2
    # the hot block's pairs exist in total...
    assert per_combo >= hot_pairs
    combo_counts = (
        pairs.candidate_pairs_salted(blocks, salt_buckets=s)
        .withColumn("bl", F.pmod(F.xxhash64("id1"), F.lit(s)))
        .withColumn("br", F.pmod(F.xxhash64("id2"), F.lit(s)))
        .groupBy("block_key", "bl", "br")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    # ...but no single bucket-combo exceeds ~2x the ideal (B/s)^2 slice
    assert combo_counts < hot_pairs / 8


def test_block_purging_trades_recall_for_bound(spark):
    """Capping block size drops hot blocks entirely: hot entity fragments,
    organic entities keep resolving at F1=1.0 (precision never suffers)."""
    corpus = make_pages(n_entities=40, hot_key_rows=150)
    pages = spark.createDataFrame(corpus.pages)
    truth = spark.createDataFrame(corpus.truth)
    cfg = pipeline.ERConfig(max_block_size=100)  # < hot block size
    m = pipeline.evaluate_against_truth(pipeline.resolve(pages, cfg), truth).collect()[0]
    assert m["precision"] == 1.0            # purging never merges wrongly
    assert m["fn"] == 150 * 149 // 2        # exactly the hot entity's pairs lost
    # organic recall intact: all remaining truth pairs found
    assert m["tp"] > 0


def test_strip_boilerplate_hot_line_correct_under_skew(spark):
    """A viral line in EVERY doc of one source (the hot (grp,norm) join
    key): results stay exact and identical at any partitioning."""
    from entity_resolution_spark.operators.webtext import strip_boilerplate

    rows = [
        (i, "hot", f"viral cookie wall\nbody {i} words here\nviral cookie wall")
        for i in range(400)
    ] + [(1000 + i, "cold", f"only body {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, page string")
    a = {
        r["doc_id"]: (r["n_boiler"], r["cleaned"])
        for r in strip_boilerplate(df, min_docs=5).collect()
    }
    assert all(a[i] == (2, f"body {i} words here") for i in range(400))
    assert all(a[1000 + i] == (0, f"only body {i}") for i in range(20))
    b = {
        r["doc_id"]: (r["n_boiler"], r["cleaned"])
        for r in strip_boilerplate(df.repartition(17), min_docs=5).collect()
    }
    assert a == b


def test_duplicated_spans_viral_gram_under_skew(spark):
    """One 8-gram shared by 300 docs (hot gram_md5 join key): every doc
    reports exactly its own span; partition-invariant."""
    from entity_resolution_spark.operators.dedup import duplicated_spans

    viral = "v0 v1 v2 v3 v4 v5 v6 v7"
    rows = [(i, f"u{i}a u{i}b {viral} u{i}c u{i}d") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(df, gram_tokens=8).collect()
    assert len(out) == 300
    assert all(
        (r["start_tok"], r["end_tok"], r["n_grams"]) == (2, 9, 1) for r in out
    )
    out2 = duplicated_spans(df.repartition(13), gram_tokens=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_klsh_sweep_mega_component_routes_to_lloyd(spark):
    """A planted 10^5-row component (pruning-misfire scenario) must not
    reach the per-component Arrow group: it is split off by the size gate
    and clustered by the distributed klsh_lloyd, while small components
    keep the exact sweep semantics."""
    from entity_resolution_spark.functions.features import FeatureSpec
    from entity_resolution_spark.operators.klsh import (
        best_k_unsupervised,
        klsh_sweep,
    )

    spec = FeatureSpec(
        numeric_cols=("x",),
        ordinal_cols=(("o", 9),),
    )
    n_big = 100_000
    big = spark.range(n_big).select(
        F.lit(0).cast("long").alias("component_id"),
        F.col("id").alias("record_id"),
        (F.col("id") % 97).cast("double").alias("x"),
        (F.col("id") % 10).cast("long").alias("o"),
    )
    small = spark.range(6).select(
        F.lit(1).cast("long").alias("component_id"),
        (F.col("id") + n_big).alias("record_id"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 10).cast("long").alias("o"),
    )
    records = big.unionByName(small)

    sweep = klsh_sweep(
        records, spec, k_bottom=1, k_top=3,
        max_component_rows=1_000, oversize="lloyd",
    ).localCheckpoint(eager=True)

    # big component: exactly one k (=k_top), every record assigned,
    # cluster ids 0-based, wcss finite, silhouette NaN
    big_rows = sweep.where(F.col("component_id") == 0)
    assert big_rows.count() == n_big
    ks = [r["k"] for r in big_rows.select("k").distinct().collect()]
    assert ks == [3]
    cids = sorted(
        r["cluster_id"] for r in big_rows.select("cluster_id").distinct().collect()
    )
    assert cids[0] == 0 and len(cids) <= 3
    r0 = big_rows.limit(1).collect()[0]
    import math

    assert math.isnan(r0["silhouette"]) and r0["wcss"] >= 0.0

    # small component: full sweep k=1..3 preserved
    small_ks = sorted(
        r["k"]
        for r in sweep.where(F.col("component_id") == 1)
        .select("k").distinct().collect()
    )
    assert small_ks == [1, 2, 3]

    # best-k selection still yields one row per component (NaN sorts last
    # but the lone lloyd row wins its component)
    best = {
        r["component_id"]: r["best_k"]
        for r in best_k_unsupervised(sweep).collect()
    }
    assert set(best) == {0, 1} and best[0] == 3


def test_klsh_sweep_mega_component_error_mode_fails_loudly(spark):
    import pytest

    from entity_resolution_spark.functions.features import FeatureSpec
    from entity_resolution_spark.operators.klsh import klsh_sweep

    spec = FeatureSpec(numeric_cols=("x",))
    records = spark.range(50).select(
        F.lit(0).cast("long").alias("component_id"),
        F.col("id").alias("record_id"),
        F.col("id").cast("double").alias("x"),
    )
    with pytest.raises(Exception, match="max_component_rows"):
        klsh_sweep(
            records, spec, max_component_rows=10, oversize="error"
        ).collect()


def test_klsh_sweep_mega_split_keeps_null_component_rows(spark):
    """The size-gate split joins records to per-component counts; that join
    is null-safe, so rows with a NULL component id (possible upstream of a
    left-join component assignment) survive the routed path exactly like
    they survive the plain groupBy.applyInPandas path."""
    from entity_resolution_spark.functions.features import FeatureSpec
    from entity_resolution_spark.operators.klsh import klsh_sweep

    spec = FeatureSpec(numeric_cols=("x",))
    big = spark.range(2_000).select(
        F.lit(0).cast("long").alias("component_id"),
        F.col("id").alias("record_id"),
        (F.col("id") % 13).cast("double").alias("x"),
    )
    nulls = spark.range(4).select(
        F.lit(None).cast("long").alias("component_id"),
        (F.col("id") + 10_000).alias("record_id"),
        F.col("id").cast("double").alias("x"),
    )
    records = big.unionByName(nulls)

    routed = klsh_sweep(
        records, spec, k_bottom=1, k_top=2,
        max_component_rows=100, oversize="lloyd",
    )
    null_rows = routed.where(F.col("component_id").isNull())
    got_ids = sorted(
        r["record_id"] for r in null_rows.select("record_id").distinct().collect()
    )
    assert got_ids == [10_000, 10_001, 10_002, 10_003]

    # parity with the unsplit path on the same records
    plain = klsh_sweep(
        records, spec, k_bottom=1, k_top=2,
        max_component_rows=10_000_000, oversize="lloyd",
    )
    plain_ids = sorted(
        r["record_id"]
        for r in plain.where(F.col("component_id").isNull())
        .select("record_id").distinct().collect()
    )
    assert plain_ids == got_ids


def test_aqe_skew_join_splits_planted_hot_partition(spark):
    """Evidence for the SCALING.md claim that AQE skew-join splits residual
    hot partitions in the UNSALTED path: a planted hot join key (90% of a
    400k-row fact side) under lowered skew thresholds must execute as
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead — i.e. the
    runtime actually split the hot partition, not merely that the config
    flag is set."""
    import io
    from contextlib import redirect_stdout

    conf_keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # sandbox-scale thresholds: the planted partition is ~MBs, not GBs
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # keep it a sort-merge join: broadcast would hide the shuffle
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in conf_keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 97).cast("long").alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        small = spark.range(97).select(
            F.col("id").alias("k"), F.col("id").alias("w")
        )
        q = big.join(small, "k").select(F.sum(F.length("v")).alias("s"))
        # act on THIS Dataset so its own adaptive plan finalizes
        total = q.collect()[0]["s"]
        assert total > 0
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_resolve_and_checkpointed_share_salted_stage_graph(spark, tmp_path, monkeypatch):
    """Both entry points build the same stage graph: each honours
    ``salt_buckets`` and they return the same assignment."""
    from entity_resolution_spark.plans.checkpoint import (
        StageCheckpointer,
        resolve_checkpointed,
    )

    calls = []
    salted = pairs.candidate_pairs_salted

    def spy(*args, **kwargs):
        calls.append(1)
        return salted(*args, **kwargs)

    monkeypatch.setattr(pairs, "candidate_pairs_salted", spy)
    corpus = make_pages(n_entities=30, hot_key_rows=100)
    pages = spark.createDataFrame(corpus.pages)
    cfg = pipeline.ERConfig(salt_buckets=8)
    plain = sorted(map(tuple, pipeline.resolve(pages, cfg).collect()))
    assert len(calls) == 1
    ckpt = StageCheckpointer(spark, str(tmp_path), "salted")
    checkpointed = sorted(map(tuple, resolve_checkpointed(pages, ckpt, cfg).collect()))
    assert len(calls) == 2
    assert plain == checkpointed
