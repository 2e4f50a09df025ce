"""ANN: exact baseline vs SRP-LSH vs IVF (KMeans coarse quantizer)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators import ann


def _clustered_embeddings(spark, n_clusters=4, per_cluster=30, dim=16, seed=9):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 5.0, size=(n_clusters, dim))
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(0, 0.3, dim)
            rows.append((i, c, [float(x) for x in v]))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )


def _topk_map(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()}


def test_ivf_full_probe_equals_bruteforce(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 8)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=6))
    ivf = _topk_map(
        ann.ivf_topk(q, emb, k=5, n_lists=6, n_probe=6, round_to=6)
    )
    assert ivf == exact


def test_ivf_partial_probe_recall(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 10)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=6))
    ivf = _topk_map(ann.ivf_topk(q, emb, k=5, n_lists=6, n_probe=2, round_to=6))
    hits = total = 0
    for qid, nbrs in exact.items():
        want = {n for n, _ in nbrs}
        got = {n for n, _ in ivf.get(qid, [])}
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.9, hits / total


def test_ivf_deterministic(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, ann.ivf_topk(q, emb, k=3, n_lists=4, n_probe=2, round_to=6).collect()))
    b = sorted(map(tuple, ann.ivf_topk(q.repartition(7), emb.repartition(5), k=3, n_lists=4, n_probe=2, round_to=6).collect()))
    assert a == b


def test_lsh_topk_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    got = ann.lsh_topk(empty, empty, k=3)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["query_id", "neighbor_id", "cosine"]


def test_pq_full_rerank_equals_bruteforce(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 8)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=6))
    pq = _topk_map(
        ann.pq_topk(q, emb, k=5, m=4, ksub=16, rerank=200, round_to=6)
    )
    assert pq == exact  # rerank >= |corpus| makes PQ exact


def test_pq_partial_rerank_recall(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 10)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=6))
    pq = _topk_map(ann.pq_topk(q, emb, k=5, m=4, ksub=16, rerank=15, round_to=6))
    hits = total = 0
    for qid, nbrs in exact.items():
        want = {n for n, _ in nbrs}
        got = {n for n, _ in pq.get(qid, [])}
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.9, hits / total


def test_pq_parity_mode_full_rerank_equals_bruteforce(spark):
    # parity mode (raw vectors + 6dp round-before-argmin/rank, fixed
    # codebooks) still equals brute force once rerank covers the corpus —
    # the approx stage only selects candidates, the exact rerank decides.
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 8)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=6))
    books = ann.pq_fixed_codebooks(m=4, ksub=16, dsub=4, scale=5.0)
    pq = _topk_map(
        ann.pq_topk(
            q, emb, k=5, m=4, ksub=16, rerank=200,
            codebooks=books, round_to=6, parity=True,
        )
    )
    assert pq == exact


def test_pq_topk_query_collect_is_capped(spark, monkeypatch):
    emb = _clustered_embeddings(spark)
    books = ann.pq_fixed_codebooks(m=4, ksub=16, dsub=4)
    monkeypatch.setattr(ann, "PQ_MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="PQ_MAX_QUERIES=3"):
        ann.pq_topk(
            emb.where(F.col("vec_id") < 4), emb, k=2, m=4, ksub=16, codebooks=books
        )


def test_pq_partition_invariant(spark):
    emb = _clustered_embeddings(spark)
    q = emb.where(F.col("vec_id") < 5)
    books = ann.pq_train(emb, m=4, ksub=16)
    a = sorted(
        map(
            tuple,
            ann.pq_topk(
                q, emb.coalesce(1), k=3, m=4, ksub=16, rerank=10,
                codebooks=books, round_to=6,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ann.pq_topk(
                q, emb.repartition(16), k=3, m=4, ksub=16, rerank=10,
                codebooks=books, round_to=6,
            ).collect(),
        )
    )
    assert a == b and len(a) == 15


def test_pq_on_testdata_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = _topk_map(ann.cosine_topk(q, emb, k=5, round_to=4))
    # testdata embeddings are near-random (no cluster structure — the
    # hardest case for ADC ranking), so the rerank pool is 30% of the
    # corpus; the clustered-data test above covers the realistic regime
    pq = _topk_map(ann.pq_topk(q, emb, k=5, m=8, ksub=16, rerank=150, round_to=4))
    hits = total = 0
    for qid, nbrs in exact.items():
        want = {n for n, _ in nbrs}
        got = {n for n, _ in pq.get(qid, [])}
        hits += len(want & got)
        total += len(want)
    assert hits / total >= 0.8, hits / total
