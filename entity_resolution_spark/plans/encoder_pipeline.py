"""Encoder train→infer path over pages (reference EP3 re-expressed).

Reference EP3 (``m_manager.py:15-86``): normalize features → train siamese
encoder on labeled triplets → infer embeddings → cluster.  Spark's role here
(per SURVEY §2.5 M1): feature preparation and labeled-pair sampling are
DataFrame jobs; the numpy training loop runs driver-side on the collected
(small) pair features; inference goes back through the Arrow-batched UDF
with the *trained* weights broadcast.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..ml import encoder as E
from ..ml.train import TrainResult, train_contrastive
from . import pipeline

# 8 feature columns in encoder INPUT_COLS order — text statistics that are
# near-identical within an entity cluster (bodies share sentences) and
# differ across entities.
def page_features(pages: DataFrame) -> DataFrame:
    recs = pipeline.extract(pages)
    toks = T.token_count(F.col("text"))
    return recs.select(
        "record_id",
        "url",
        (toks / 100.0).cast("double").alias("quality_cos"),
        (T.distinct_token_count(F.col("text")) / 100.0).cast("double").alias("quality_sin"),
        (F.length("text") / 500.0).alias("resonance"),
        T.stopword_ratio(F.col("text")).alias("tension"),
        T.punct_ratio(F.col("text")).alias("tension_adj_cos"),
        T.uppercase_ratio(F.col("text")).alias("tension_adj_sin"),
        (F.col("lang") == "en").cast("double").alias("longevity_cos"),
        (F.length(T.title_of(F.col("text"))) / 10.0).alias("longevity_sin"),
    )


# Most labeled pairs ``training_pairs_from_labels`` collects.  Training runs on
# the driver at ~0.34 ms per pair per epoch (one core of a shared 4-vCPU Intel
# Xeon VM), so the cap bounds the default 40 epochs to ~2.3 min.
LABEL_MAX_ROWS = 10_000


def training_pairs_from_labels(
    features: DataFrame, labels: DataFrame
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """labels (url1, url2, is_match) + per-page features → (X1, X2, y) arrays.

    y follows the reference contrastive convention: 0 = similar, 1 = dissimilar
    (``model_loss_classes.py:61-73``).  The labeled pair set is a sampling
    product, not the full candidate space, and the collect is a driver-side
    contract: it fetches ``LABEL_MAX_ROWS + 1`` rows and fails past the cap.
    """
    f1 = features.select(
        F.col("url").alias("url1"), *[F.col(c).alias(f"a_{c}") for c in E.INPUT_COLS]
    )
    f2 = features.select(
        F.col("url").alias("url2"), *[F.col(c).alias(f"b_{c}") for c in E.INPUT_COLS]
    )
    rows = (
        labels.join(f1, "url1").join(f2, "url2").limit(LABEL_MAX_ROWS + 1).collect()
    )
    if len(rows) > LABEL_MAX_ROWS:
        raise ValueError(
            f"more than LABEL_MAX_ROWS={LABEL_MAX_ROWS} labeled pairs; encoder "
            "training runs on the driver — sample the labels first"
        )
    X1 = np.array([[r[f"a_{c}"] for c in E.INPUT_COLS] for r in rows])
    X2 = np.array([[r[f"b_{c}"] for c in E.INPUT_COLS] for r in rows])
    y = np.array([0.0 if r["is_match"] else 1.0 for r in rows])
    return X1, X2, y


def train_on_labels(
    pages: DataFrame, labels: DataFrame, epochs: int = 40, lr: float = 3e-3,
    seed: int = 42,
) -> TrainResult:
    feats = page_features(pages)
    X1, X2, y = training_pairs_from_labels(feats, labels)
    return train_contrastive(X1, X2, y, epochs=epochs, lr=lr, seed=seed)


def encoder_scores(
    pages: DataFrame, pair_ids: DataFrame, weights: dict[str, np.ndarray]
) -> DataFrame:
    """(id1, id2, enc_sim) with the given (e.g. trained) weights."""
    from ..functions import similarity as S

    feats = page_features(pages)
    emb = E.embed_dataframe(feats, weights)
    e1 = emb.select(F.col("record_id").alias("id1"), F.col("embedding").alias("emb1"))
    e2 = emb.select(F.col("record_id").alias("id2"), F.col("embedding").alias("emb2"))
    return (
        pair_ids.join(e1, "id1")
        .join(e2, "id2")
        .select(
            "id1",
            "id2",
            S.distance_to_similarity(
                S.l2_distance(F.col("emb1"), F.col("emb2"))
            ).alias("enc_sim"),
        )
    )
