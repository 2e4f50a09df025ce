"""Scoring stage (F7/F10/F11) + encoder inference UDF (F9) + losses (M2-M4)."""

from __future__ import annotations

import math
import uuid

import numpy as np
from pyspark.sql import functions as F

from entity_resolution_spark.functions import similarity as S
from entity_resolution_spark.ml import encoder as E
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.sources.synthetic import make_pages


def test_jaro_winkler_known_values():
    assert abs(S.jaro_winkler_py("martha", "marhta") - 0.9611111111111111) < 1e-9
    assert abs(S.jaro_winkler_py("dwayne", "duane") - 0.84) < 1e-9
    assert S.jaro_winkler_py("same", "same") == 1.0
    assert S.jaro_winkler_py("abc", "xyz") == 0.0


def test_jaro_winkler_udf_matches_py(spark):
    rows = [("martha", "marhta"), ("dixon", "dicksonx"), ("", "x"), ("a", "a")]
    df = spark.createDataFrame(rows, ["s1", "s2"])
    got = [r["jw"] for r in df.select(S.jaro_winkler_udf("s1", "s2").alias("jw")).collect()]
    exp = [S.jaro_winkler_py(a, b) for a, b in rows]
    assert all(abs(g - e) < 1e-12 for g, e in zip(got, exp))


def test_distance_to_similarity(spark):
    df = spark.createDataFrame([(0.0,), (1.0,), (2.0,), (3.0,)], ["d"])
    got = [
        r["s"]
        for r in df.select(S.distance_to_similarity(F.col("d")).alias("s")).collect()
    ]
    assert got == [1.0, 0.5, 0.0, 0.0]


def test_vector_ops(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
    row = df.select(
        S.dot("a", "b").alias("dot"),
        S.cosine("a", "a").alias("cos_self"),
        S.l2_distance("a", "b").alias("dist"),
    ).collect()[0]
    assert row["dot"] == 0.0
    assert abs(row["cos_self"] - 1.0) < 1e-12
    assert abs(row["dist"] - math.sqrt(2)) < 1e-12


def test_tfidf_cosine_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        ["record_id", "text"],
    )
    vecs = S.tfidf_vectors(docs)
    pairs_df = spark.createDataFrame([(1, 2), (1, 3)], ["id1", "id2"])
    got = {
        (r["id1"], r["id2"]): r["tfidf_cosine"]
        for r in S.tfidf_cosine_pairs(pairs_df, vecs).collect()
    }
    assert abs(got[(1, 2)] - 1.0) < 1e-9  # identical docs
    assert got[(1, 3)] == 0.0             # disjoint vocabulary


def test_tfidf_vectors_builds_without_a_job(spark):
    """The document count N is part of the plan, not collected while the
    vectors are built."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], ["record_id", "text"]
    )
    sc = spark.sparkContext
    group = f"tfidf-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "tfidf_vectors")
    try:
        vecs = S.tfidf_vectors(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # N = 2: "beta" is in both docs, so its idf is ln(3/3) + 1 = 1
    exact = S.tfidf_vectors(docs, num_features=None)
    w = {(r["id"], r["term_key"]): r["w"] for r in exact.collect()}
    idf_rare = math.log(3 / 2) + 1
    assert abs(w[(1, "beta")] - 1 / math.sqrt(1 + idf_rare**2)) < 1e-12
    assert vecs.count() == 4


def test_score_stage_end_to_end(spark):
    from entity_resolution_spark.operators import pairs as P
    from entity_resolution_spark.operators import blocking
    from entity_resolution_spark.operators.blocking import BlockingStage

    corpus = make_pages(n_entities=20)
    pages = spark.createDataFrame(corpus.pages)
    recs = pipeline.extract(pages).select("record_id", "url", "title")
    blocks = blocking.block(recs, [BlockingStage("title", "phonetic_combination")])
    edges = P.prune(P.edge_weights(blocks))
    scored = pipeline.score(pages, edges).collect()
    assert len(scored) > 0
    for r in scored:
        assert 0.0 <= r["jaro_winkler"] <= 1.0
        assert 0.0 <= r["tfidf_cosine"] <= 1.0 + 1e-9
        assert r["lev"] >= 0


def test_encoder_deterministic_and_normalized(spark):
    w = E.init_weights()
    X = np.random.default_rng(1).normal(size=(16, 8))
    e1, e2 = E.forward(w, X), E.forward(w, X)
    assert np.array_equal(e1, e2)
    assert np.allclose(np.linalg.norm(e1, axis=1), 1.0, atol=1e-5)
    assert e1.shape == (16, E.EMBED_DIM)


def test_encoder_udf_matches_local(spark):
    w = E.init_weights()
    rows = [
        (float(i % 3) / 3, 0.5, 0.1 * i, float(i % 2), 1.0 - (i % 2), 0.0, 0.7, 0.7)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, E.INPUT_COLS).withColumn(
        "rid", F.monotonically_increasing_id()
    )
    out = E.embed_dataframe(df, w).select("embedding").collect()
    X = np.array(rows)
    local = E.forward(w, X)
    got = np.array([r["embedding"] for r in out], dtype=np.float32)
    # row order from collect matches createDataFrame order in local mode
    assert np.allclose(np.sort(got.ravel()), np.sort(local.ravel()), atol=1e-5)


def test_losses():
    d_ap = np.array([0.1, 0.2, 3.0])
    d_an = np.array([2.5, 3.0, 0.1])
    y = np.array([0, 0, 1])
    # contrastive: similar pairs pull d^2, dissimilar push below margin
    assert E.contrastive_loss(np.array([0.0]), np.array([0])) == 0.0
    assert E.contrastive_loss(np.array([3.0]), np.array([1])) == 0.0  # beyond margin
    assert E.contrastive_loss(np.array([1.0]), np.array([1])) == 0.5 * 1.0
    tl = E.triplet_margin_loss(d_ap, d_an)
    assert tl > 0
    tsl = E.tail_suppressed_triplet_loss(d_ap, d_an)
    assert 0 <= tsl


def test_encoder_checkpoint_roundtrip(spark, tmp_path):
    """S5: save/load weights (npz) + bytes round-trip reproduce embeddings."""
    w = E.init_weights()
    path = str(tmp_path / "enc.npz")
    E.save_weights(w, path)
    w2 = E.load_weights(path)
    X = np.random.default_rng(2).normal(size=(8, 8))
    assert np.array_equal(E.forward(w, X), E.forward(w2, X))
    w3 = E.weights_from_bytes(E.weights_to_bytes(w))
    assert np.array_equal(E.forward(w, X), E.forward(w3, X))


def test_score_with_match_threshold(spark):
    from entity_resolution_spark.operators import blocking, pairs as P
    from entity_resolution_spark.operators.blocking import BlockingStage

    corpus = make_pages(n_entities=12)
    pages = spark.createDataFrame(corpus.pages)
    recs = pipeline.extract(pages).select("record_id", "title")
    edges = P.prune(P.edge_weights(blocking.block(recs, [BlockingStage("title", "phonetic_combination")])))
    scored = pipeline.score(pages, edges, match_threshold=0.7).collect()
    assert all(r["is_match_pred"] in (0, 1) for r in scored)
    assert any(r["is_match_pred"] == 1 for r in scored)
