"""M11 integration: weight optimization driving the Spark KLSH objective."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.functions.features import FeatureSpec
from entity_resolution_spark.ml import hierarchical
from entity_resolution_spark.ml.hierarchical import cluster_embeddings_df
from entity_resolution_spark.ml.optimize import optimize_weights
from entity_resolution_spark.operators import blocking, components, klsh, pairs
from entity_resolution_spark.operators.blocking import BlockingStage
from entity_resolution_spark.sources.synthetic import make_apollo

WEIGHT_NAMES = [
    "tension_adj_cos", "tension_adj_sin", "tension", "resonance",
    "longevity_cos", "longevity_sin", "quality_cos", "quality_sin", "amt_sold",
]


def test_weight_opt_on_spark_klsh(spark):
    pdf, groups = make_apollo()
    df = spark.createDataFrame(pdf.reset_index().rename(columns={"index": "record_id"}))
    df = df.withColumn("longevity", F.to_date("longevity", "dd/MM/yyyy"))
    blocks = blocking.block(df, [BlockingStage("name", "phonetic_combination")])
    pruned = pairs.prune(pairs.edge_weights(blocks))
    assignment = components.assign_components(
        df.select("record_id"),
        pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    records = df.join(assignment, "record_id").localCheckpoint()
    truth = spark.createDataFrame(
        [(min(a, b), max(a, b)) for g in groups for a in g for b in g if a < b],
        ["id1", "id2"],
    ).localCheckpoint()

    def objective(wvec):
        spec = FeatureSpec(
            bool_cols=("tension_adj",),
            numeric_cols=("tension", "resonance", "amt_sold"),
            date_cols=(("longevity", "2015-01-01", 365 * 60),),
            ordinal_cols=(("quality", 9),),
            weights=dict(zip(WEIGHT_NAMES, (float(x) for x in wvec))),
        )
        sweep = klsh.klsh_sweep(records, spec, k_top=6)
        best = klsh.best_k_by_f1(sweep, truth)
        mean_f1 = best.agg(F.avg("f1")).collect()[0][0]
        return -(mean_f1 or 0.0)  # reference: minimize −mean(best F1)

    w, v, hist = optimize_weights(objective, n_weights=9, n_calls=4,
                                  early_stop_value=-1.0)
    assert len(w) == 9 and all(0 <= x <= 1 for x in w)
    assert v <= 0.0  # objective is a negated F1

    # GP path with the reference's frozen-longevity quirk (dims 4/5 fixed
    # during evaluation, sampled in the recorded vectors)
    from entity_resolution_spark.ml.optimize import optimize_weights_gp

    wg, vg, _ = optimize_weights_gp(
        objective, n_weights=9, n_calls=4, early_stop_value=-1.0,
        frozen={4: 0.5, 5: 0.5}, n_initial=3,
    )
    assert len(wg) == 9 and vg <= 0.0


def test_cluster_embeddings_df(spark, monkeypatch):
    rng = np.random.default_rng(5)
    a = rng.normal(0, 0.02, size=(5, 8))
    b = rng.normal(0, 0.02, size=(5, 8)) + 3.0
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
    df = spark.createDataFrame(rows, "record_id long, embedding array<double>")
    got = cluster_embeddings_df(df, distance_threshold=1.0)
    labels = {r["record_id"]: r["cluster"] for r in got.collect()}
    assert len({labels[i] for i in range(5)}) == 1
    assert len({labels[i] for i in range(5, 10)}) == 1
    assert labels[0] != labels[9]
    monkeypatch.setattr(hierarchical, "WARD_MAX_ROWS", 9)
    with pytest.raises(ValueError, match="WARD_MAX_ROWS=9"):
        cluster_embeddings_df(df, distance_threshold=1.0)
