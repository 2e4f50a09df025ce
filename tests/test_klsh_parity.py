"""Reference-parity: Spark pipeline vs in-process pandas oracle on the
apollo-shaped fixture (SURVEY §5.2 item 2) + KLSH unit behavior."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from entity_resolution_spark.functions.features import FeatureSpec
from entity_resolution_spark.ml.kmeans import elbow_knee, kmeans_fit_predict, silhouette
from entity_resolution_spark.operators import blocking, components, klsh, pairs
from entity_resolution_spark.operators.blocking import BlockingStage
from entity_resolution_spark.sources.synthetic import make_apollo

from pandas_oracle import run_oracle

APOLLO_SPEC = FeatureSpec(
    bool_cols=("tension_adj",),
    numeric_cols=("tension", "resonance", "amt_sold"),
    date_cols=(("longevity", "2015-01-01", 365 * 60),),
    ordinal_cols=(("quality", 9),),
)


def _spark_pipeline(spark, pdf):
    df = spark.createDataFrame(pdf.reset_index().rename(columns={"index": "record_id"}))
    df = df.withColumn("longevity", F.to_date("longevity", "dd/MM/yyyy"))
    blocks = blocking.block(df, [BlockingStage("name", "phonetic_combination")])
    pruned = pairs.prune(pairs.edge_weights(blocks))
    assignment = components.assign_components(
        df.select("record_id"),
        pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    records = df.join(assignment, "record_id")
    sweep = klsh.klsh_sweep(records, APOLLO_SPEC)
    return assignment, sweep


def test_apollo_parity(spark):
    pdf, groups = make_apollo()
    assignment, sweep = _spark_pipeline(spark, pdf)

    oracle_pdf = pdf.copy()
    oracle_pdf["longevity"] = pd.to_datetime(oracle_pdf["longevity"], format="%d/%m/%Y")
    comp_oracle, klsh_oracle = run_oracle(oracle_pdf, APOLLO_SPEC)

    comp_spark = {
        r["record_id"]: r["component_id"] for r in assignment.collect()
    }
    assert comp_spark == comp_oracle

    got = {}
    for r in sweep.collect():
        got.setdefault((r["component_id"], r["k"]), {})[r["record_id"]] = r["cluster_id"]
    assert set(got) == set(klsh_oracle)
    for key in klsh_oracle:
        assert got[key] == klsh_oracle[key], f"mismatch at {key}"


def test_apollo_components_match_truth(spark):
    pdf, groups = make_apollo()
    assignment, _ = _spark_pipeline(spark, pdf)
    comp = {r["record_id"]: r["component_id"] for r in assignment.collect()}
    by_comp = {}
    for rid, c in comp.items():
        by_comp.setdefault(c, set()).add(rid)
    assert sorted(map(sorted, by_comp.values())) == sorted(map(sorted, groups))


def test_best_k_by_f1_tie_break(spark):
    # two records, truth says pair matched: k=1 f1=1, k=2 f1=0 -> best k 1
    pdf, groups = make_apollo()
    assignment, sweep = _spark_pipeline(spark, pdf)
    truth_rows = [
        (min(a, b), max(a, b))
        for grp in groups
        for a in grp
        for b in grp
        if a < b
    ]
    truth = spark.createDataFrame(truth_rows, ["id1", "id2"])
    best = klsh.best_k_by_f1(sweep, truth)
    rows = {r["component_id"]: r for r in best.collect()}
    # every component's best row exists and f1 maximal-first ordering holds
    assert len(rows) == assignment.select("component_id").distinct().count()
    for r in rows.values():
        assert 0.0 <= r["f1"] <= 1.0


def test_kmeans_deterministic_and_separates():
    rng = np.random.default_rng(0)
    X = np.vstack([rng.normal(0, 0.05, (10, 3)), rng.normal(5, 0.05, (12, 3))])
    l1, i1 = kmeans_fit_predict(X, 2)
    l2, i2 = kmeans_fit_predict(X, 2)
    assert (l1 == l2).all() and i1 == i2
    assert len(set(l1[:10])) == 1 and len(set(l1[10:])) == 1
    assert l1[0] != l1[-1]


def test_silhouette_and_knee():
    X = np.vstack([np.zeros((5, 2)), np.ones((5, 2)) * 10])
    labels = np.array([0] * 5 + [1] * 5)
    assert silhouette(X, labels) > 0.9
    assert elbow_knee([1, 2, 3, 4, 5], [100.0, 20.0, 15.0, 12.0, 10.0]) == 2


def test_read_records_csv_cp1252(spark, tmp_path):
    """S1/S4: CSV scan with cp1252 charset + reference type coercion."""
    from entity_resolution_spark.sources.tables import read_records_csv

    csv = tmp_path / "recs.csv"
    content = (
        "name,tension_adj,tension,resonance,longevity,quality,amt_sold\n"
        "August Förster,1,3.5,110.0,13/04/2028,3,5000\n"
        "Broken,notanint,xx,1.0,99/99/9999,2,100\n"
    )
    csv.write_bytes(content.encode("cp1252"))
    df = read_records_csv(spark, str(csv))
    rows = {r["name"]: r for r in df.collect()}
    assert "August Förster" in rows  # charset decoded
    good = rows["August Förster"]
    assert good["tension_adj"] == 1 and good["quality"] == 3
    assert str(good["longevity"]) == "2028-04-13"
    bad = rows["Broken"]
    # errors='coerce' semantics: unparseable -> null, row kept
    assert bad["tension_adj"] is None and bad["tension"] is None
    assert bad["longevity"] is None


def test_spark_engineer_matches_pandas_path(spark):
    """F1-F6 cross-validation: the Spark column/window implementation equals
    the per-group pandas implementation used inside the KLSH stage."""
    import numpy as np

    from entity_resolution_spark.functions import features as FE
    from entity_resolution_spark.operators.klsh import engineer_pandas

    pdf, _groups = make_apollo()
    pdf = pdf.reset_index().rename(columns={"index": "record_id"})
    pdf["component_id"] = pdf["record_id"] % 3  # arbitrary 3 groups
    sdf = spark.createDataFrame(pdf).withColumn(
        "longevity", F.to_date("longevity", "dd/MM/yyyy")
    )
    out = FE.engineer(sdf, APOLLO_SPEC).select(
        "record_id", "component_id", *APOLLO_SPEC.output_columns()
    )
    got = {r["record_id"]: [r[c] for c in APOLLO_SPEC.output_columns()] for r in out.collect()}

    import pandas as pd

    pdf2 = pdf.copy()
    pdf2["longevity"] = pd.to_datetime(pdf2["longevity"], format="%d/%m/%Y")
    for comp, grp in pdf2.groupby("component_id"):
        X = engineer_pandas(grp, APOLLO_SPEC)
        for (rid, row) in zip(grp["record_id"], X):
            assert np.allclose(got[rid], row, atol=1e-9), rid


def test_spark_engineer_groupby_scaler_keeps_null_component(spark):
    """The per-component scaler is a groupBy + join (no Window in the plan,
    so a mega component never lands in one task), and rows whose component
    is NULL stay and are scaled as one group, as engineer_pandas does."""
    import numpy as np

    from entity_resolution_spark.functions import features as FE
    from entity_resolution_spark.operators.klsh import engineer_pandas

    pdf, _groups = make_apollo()
    pdf = pdf.reset_index().rename(columns={"index": "record_id"})
    pdf["component_id"] = [None if r % 3 == 2 else r % 3 for r in pdf["record_id"]]
    sdf = spark.createDataFrame(pdf).withColumn(
        "longevity", F.to_date("longevity", "dd/MM/yyyy")
    )
    out = FE.engineer(sdf, APOLLO_SPEC)
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["record_id"]: [r[c] for c in APOLLO_SPEC.output_columns()] for r in out.collect()}
    assert len(got) == len(pdf)

    pdf2 = pdf.copy()
    pdf2["longevity"] = pd.to_datetime(pdf2["longevity"], format="%d/%m/%Y")
    for _comp, grp in pdf2.groupby("component_id", dropna=False):
        X = engineer_pandas(grp, APOLLO_SPEC)
        for rid, row in zip(grp["record_id"], X):
            assert np.allclose(got[rid], row, atol=1e-9), rid


def test_uncovered_text_functions(spark):
    from entity_resolution_spark.functions import text as T

    df = spark.createDataFrame([("Hello WORLD! el la de que los una con por",)], ["text"])
    r = df.select(
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
        F.round(T.uppercase_ratio(F.col("text")), 4).alias("upper"),
        T.lang_guess(F.col("text")).alias("lang"),
    ).collect()[0]
    assert r["bpe"] == 11  # Hello, WORLD, !, + 8 stopwords
    assert r["upper"] > 0
    assert r["lang"] == "es"


def test_best_k_unsupervised(spark):
    pdf, groups = make_apollo()
    _assignment, sweep = _spark_pipeline(spark, pdf)
    from entity_resolution_spark.operators.klsh import best_k_unsupervised

    best = {r["component_id"]: r for r in best_k_unsupervised(sweep).collect()}
    assert len(best) == 3
    for r in best.values():
        assert r["best_k"] >= 1
        # chosen silhouette is the max over that component's valid ks
        per_k = {
            row["k"]: row["silhouette"]
            for row in sweep.where(sweep.component_id == r["component_id"])
            .select("k", "silhouette").distinct().collect()
        }
        import math
        valid = [v for v in per_k.values() if v is not None and not math.isnan(v)]
        if valid:
            assert abs(r["silhouette"] - max(valid)) < 1e-12
