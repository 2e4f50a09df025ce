"""Per-component KLSH (KMeans-as-LSH) clustering — grouped-map applyInPandas.

Reference: ``block_klsh/clustering/klsh_engine.py:27-239`` runs, for each
connected component, a k sweep (k in [k_bottom, min(k_top, n)]) of seeded
KMeans over the weighted engineered feature matrix, then derives predicted
pairs per k and picks best k.  Here each component is one Arrow group:

    records_with_components.groupBy("component_id").applyInPandas(...)

which parallelizes across components (thousands of small fits at web scale)
while keeping the reference's *per-component* scaler-fit semantics exactly —
the scaler never sees rows outside its group (SURVEY §7.3 risk 4).

Output is long form: one row per (component, k, record) with the cluster id,
plus per-(component,k) wcss and silhouette for E2/E3 k-selection.  Pair
explosion and best-k-by-F1 (E4) stay DataFrame ops downstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.features import HALF_PI, FeatureSpec, engineer
from ..ml.kmeans import kmeans_fit_predict, silhouette

KLSH_SCHEMA = (
    "component_id long, record_id long, k int, cluster_id int, "
    "wcss double, silhouette double"
)


def engineer_pandas(pdf: pd.DataFrame, spec: FeatureSpec) -> np.ndarray:
    """Weighted feature matrix for one component slice (pandas/numpy).

    Mirrors ``klsh_engine.py:148-184`` including per-slice StandardScaler
    (population std; zero-variance column → 0.0).
    """
    cols: list[np.ndarray] = []
    for c in spec.bool_cols:
        v = pdf[c].to_numpy(dtype=float)
        cos = np.where(v == 0, 1.0, 0.0) * spec.weight(f"{c}_cos")
        sin = np.where(v == 0, 0.0, 1.0) * spec.weight(f"{c}_sin")
        cols += [cos, sin]
    for c in spec.numeric_cols:
        v = pdf[c].to_numpy(dtype=float)
        std = v.std()  # ddof=0, StandardScaler semantics
        z = (v - v.mean()) / std if std > 0 else np.zeros_like(v)
        cols.append(z * spec.weight(c))
    for c, ref, horizon in spec.date_cols:
        dt = pd.to_datetime(pdf[c], errors="coerce")
        ref_ts = pd.Timestamp(ref)
        frac = ((dt - ref_ts).dt.total_seconds() / (horizon * 86400.0)).clip(0, 1)
        theta = frac.to_numpy(dtype=float) * HALF_PI
        cols += [
            np.cos(theta) * spec.weight(f"{c}_cos"),
            np.sin(theta) * spec.weight(f"{c}_sin"),
        ]
    for c, mx in spec.ordinal_cols:
        theta = pdf[c].to_numpy(dtype=float) / mx * HALF_PI
        cols += [
            np.cos(theta) * spec.weight(f"{c}_cos"),
            np.sin(theta) * spec.weight(f"{c}_sin"),
        ]
    return np.column_stack(cols)


def _lloyd_fallback(
    big: DataFrame,
    spec: FeatureSpec,
    component_col: str,
    id_col: str,
    k: int,
    iters: int,
) -> DataFrame:
    """Distributed single-k clustering for oversized components, emitted in
    the sweep's long-form schema (one k row, wcss of the final assignment,
    NaN silhouette — exact silhouette is O(n²) and meaningless to attempt
    on a component that already blew the sweep's size gate)."""
    fcols = spec.output_columns()
    feats = engineer(big, spec, component_col).select(component_col, id_col, *fcols)
    asg = klsh_lloyd(
        feats, fcols, k=k, iters=iters,
        component_col=component_col, id_col=id_col,
    )
    j = feats.join(asg, [component_col, id_col])
    means = j.groupBy(component_col, "cluster_id").agg(
        *[F.avg(c).alias(f"_m_{c}") for c in fcols]
    )
    jm = j.join(means, [component_col, "cluster_id"])
    sq = None
    for c in fcols:
        term = (F.col(c) - F.col(f"_m_{c}")) * (F.col(c) - F.col(f"_m_{c}"))
        sq = term if sq is None else sq + term
    wcss = jm.groupBy(component_col).agg(F.sum(sq).alias("wcss"))
    return (
        asg.join(wcss, component_col)
        .select(
            F.col(component_col).alias("component_id"),
            F.col(id_col).alias("record_id"),
            F.lit(k).cast("int").alias("k"),
            # lloyd cids are 1-based; the sweep's are 0-based
            (F.col("cluster_id") - 1).cast("int").alias("cluster_id"),
            F.col("wcss").cast("double"),
            F.lit(float("nan")).cast("double").alias("silhouette"),
        )
    )


def klsh_sweep(
    records: DataFrame,
    spec: FeatureSpec,
    component_col: str = "component_id",
    id_col: str = "record_id",
    k_bottom: int = 1,
    k_top: int = 10,
    seed: int = 42,
    max_component_rows: int = 100_000,
    oversize: str = "lloyd",
) -> DataFrame:
    """k-sweep KMeans per component → long-form assignments + fit metrics.

    Each component is one Arrow group, so an unguarded mega component (a
    pruning misfire on a boilerplate-heavy corpus can chain millions of
    records into one component) would OOM a single ``applyInPandas`` task.
    Components larger than ``max_component_rows`` are therefore split off
    by a size pre-aggregation and either

    * ``oversize="lloyd"`` (default): routed to the fully-distributed
      :func:`klsh_lloyd` at ``k=k_top`` — their rows come back in the same
      long-form schema with a single k, the final-assignment wcss, and NaN
      silhouette (sorts last in :func:`best_k_unsupervised`, so the row
      still wins its component's rank-1 as the only candidate); or
    * ``oversize="error"``: the job fails loudly with the component id and
      size instead of an inscrutable executor OOM.

    The size check costs one count aggregate + equi-join — map-side
    combinable, negligible next to the k sweep itself.
    """
    if oversize not in ("lloyd", "error"):
        raise ValueError(f"oversize must be 'lloyd' or 'error', got {oversize!r}")

    def run_component(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        comp = pdf[component_col].iloc[0]
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        if n > max_component_rows:
            raise ValueError(
                f"component {comp} has {n} rows > max_component_rows="
                f"{max_component_rows}; raise the cap or use oversize='lloyd'"
            )
        out = []
        if n == 1:
            out.append((comp, ids[0], k_bottom, 0, 0.0, float("nan")))
        else:
            X = engineer_pandas(pdf, spec)
            for k in range(k_bottom, min(k_top, n) + 1):
                labels, inertia = kmeans_fit_predict(X, k, seed=seed)
                sil = silhouette(X, labels)
                for rid, lb in zip(ids, labels):
                    out.append((comp, rid, k, int(lb), inertia, sil))
        return pd.DataFrame(
            out,
            columns=[
                "component_id", "record_id", "k", "cluster_id", "wcss", "silhouette",
            ],
        )

    if oversize == "error":
        return records.groupBy(component_col).applyInPandas(
            run_component, KLSH_SCHEMA
        )
    sizes = records.groupBy(component_col).agg(F.count("*").alias("_n"))
    # One cheap existence probe BEFORE building the fallback: klsh_lloyd
    # eagerly localCheckpoints its seeding + every iteration at plan-
    # CONSTRUCTION time, so wiring it in unconditionally would run ~7
    # Spark jobs over an empty `big` side on every ordinary call.
    has_big = (
        sizes.where(F.col("_n") > max_component_rows).limit(1).count() > 0
    )
    if not has_big:
        return records.groupBy(component_col).applyInPandas(
            run_component, KLSH_SCHEMA
        )
    # eqNullSafe: a NULL component id forms its own group under
    # groupBy.applyInPandas (the unrouted path), so the split must keep it
    # too — a plain equi-join would silently drop NULL-keyed rows here.
    tagged = records.join(
        sizes.withColumnRenamed(component_col, "_sz_comp"),
        records[component_col].eqNullSafe(F.col("_sz_comp")),
    ).drop("_sz_comp")
    small = tagged.where(F.col("_n") <= max_component_rows).drop("_n")
    big = tagged.where(F.col("_n") > max_component_rows).drop("_n")
    swept = small.groupBy(component_col).applyInPandas(run_component, KLSH_SCHEMA)
    routed = _lloyd_fallback(big, spec, component_col, id_col, k=k_top, iters=5)
    return swept.unionByName(routed)


def _nearest_centroid(
    points: DataFrame,
    centroids: DataFrame,
    feature_cols: list[str],
    component_col: str,
    id_col: str,
) -> DataFrame:
    """Assign each point to its nearest centroid within its component.

    Squared distance is rounded to 6dp BEFORE the argmin and ties break on
    the lowest centroid id (round-before-rank, the repo-wide oracle-parity
    rule), so the winner is identical across engines and accumulation
    orders.  The argmin itself is ``min(struct(dist, cid))`` — a plain
    map-side-combinable aggregate, no window.
    """
    dist = None
    for c in feature_cols:
        term = (F.col(c) - F.col(f"_c_{c}")) * (F.col(c) - F.col(f"_c_{c}"))
        dist = term if dist is None else dist + term
    joined = points.join(centroids, component_col).withColumn(
        "_d6", F.round(dist, 6)
    )
    return (
        joined.groupBy(component_col, id_col, *feature_cols)
        .agg(F.min(F.struct(F.col("_d6"), F.col("cid"))).alias("_best"))
        .select(
            component_col, id_col, *feature_cols,
            F.col("_best.cid").alias("cid"),
        )
    )


def klsh_lloyd(
    points: DataFrame,
    feature_cols: list[str],
    k: int = 4,
    iters: int = 5,
    component_col: str = "component_id",
    id_col: str = "record_id",
) -> DataFrame:
    """Per-component KMeans as fixed-iteration Lloyd from deterministic
    hash-seeded centroids — the fully-distributed, oracle-checkable variant
    of ``klsh_sweep`` (same reference semantics family:
    ``block_klsh/clustering/klsh_engine.py:197`` seeded KMeans per component,
    with the sweep/n_init replaced by one deterministic run so the whole
    computation is expressible in ANSI SQL).

    Init: the ``min(k, n)`` members with the smallest ``(md5(id), id)`` per
    component seed centroids ``cid`` = 1..k (a deterministic stand-in for
    seeded k-means++).  Then ``iters`` Lloyd rounds: nearest-centroid
    assignment (distance rounded to 6dp, ties → lowest cid) and centroid
    recomputation as the per-cluster mean rounded to 6dp.  Clusters that
    lose all members are dropped (no re-seeding).

    Scale shape: the point table never moves — each round is one equi-join
    of points against the (n_components × k)-row centroid table on the
    component id plus one groupBy, both map-side combinable.  Centroids are
    localCheckpoint-ed per round (tiny table, cuts the exponentially-nesting
    lineage); on a real cluster the same loop writes them to a checkpoint
    dir.  Windows appear only in seeding and are partitioned by component.
    """
    pts = points.select(component_col, id_col, *feature_cols).localCheckpoint(
        eager=True
    )
    w = Window.partitionBy(component_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    cent = (
        pts.withColumn("cid", F.row_number().over(w))
        .where(F.col("cid") <= k)
        .select(
            component_col, "cid",
            *[F.col(c).alias(f"_c_{c}") for c in feature_cols],
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        asg = _nearest_centroid(pts, cent, feature_cols, component_col, id_col)
        cent = (
            asg.groupBy(component_col, "cid")
            .agg(*[F.round(F.avg(c), 6).alias(f"_c_{c}") for c in feature_cols])
            .localCheckpoint(eager=True)
        )
    final = _nearest_centroid(pts, cent, feature_cols, component_col, id_col)
    return final.select(
        component_col, id_col, F.col("cid").cast("long").alias("cluster_id")
    )


def klsh_pairs(assignments: DataFrame) -> DataFrame:
    """Predicted i<j pairs per (component, k, cluster) — cluster-local
    self-join, same pattern as block-local pair generation (G9)."""
    a, b = assignments.alias("l"), assignments.alias("r")
    return (
        a.join(b, ["component_id", "k", "cluster_id"])
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            "component_id",
            "k",
            F.col("l.record_id").alias("id1"),
            F.col("r.record_id").alias("id2"),
        )
    )


def best_k_unsupervised(assignments: DataFrame) -> DataFrame:
    """E3: label-free k selection — highest silhouette, lowest k tie-break
    (reference ``klsh_engine.py:241-259`` keeps the best silhouette k; NaN
    silhouettes (k=1 or k=n) sort last)."""
    per_k = assignments.select("component_id", "k", "silhouette").distinct()
    w = Window.partitionBy("component_id").orderBy(
        F.desc_nulls_last(F.when(~F.isnan("silhouette"), F.col("silhouette"))),
        F.asc("k"),
    )
    return (
        per_k.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select("component_id", F.col("k").alias("best_k"), "silhouette")
    )


def best_k_by_f1(
    assignments: DataFrame, true_pairs: DataFrame
) -> DataFrame:
    """E1+E4: per-(component,k) pairwise P/R/F1 vs labeled pairs, then the
    reference's tie-break — lowest k among max F1 (idxmax-first semantics,
    ``klsh_engine.py:107``).

    ``true_pairs``: (id1, id2) canonical labeled positives.
    """
    pred = klsh_pairs(assignments)
    t = true_pairs.select(
        F.least("id1", "id2").alias("id1"), F.greatest("id1", "id2").alias("id2")
    ).withColumn("_t", F.lit(1))
    joined = pred.join(t, ["id1", "id2"], "left")
    # counts per (component, k)
    per_k = joined.groupBy("component_id", "k").agg(
        F.count("*").alias("n_pred"),
        F.sum(F.coalesce(F.col("_t"), F.lit(0))).alias("tp"),
    )
    # true pair counts per component: map each true pair to its component via
    # any assignment row (k is irrelevant for membership)
    members = assignments.select("component_id", "record_id").distinct()
    truth_comp = (
        t.join(members.withColumnRenamed("record_id", "id1"), "id1")
        .groupBy("component_id")
        .agg(F.count("*").alias("n_true"))
    )
    # components × ks universe (k rows exist even when no pairs predicted)
    ks = assignments.select("component_id", "k").distinct()
    metrics = (
        ks.join(per_k, ["component_id", "k"], "left")
        .join(truth_comp, "component_id", "left")
        .select(
            "component_id",
            "k",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            (F.coalesce("n_pred", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fp"),
            (F.coalesce("n_true", F.lit(0)) - F.coalesce("tp", F.lit(0))).alias("fn"),
        )
        .withColumn(
            "precision",
            F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "recall",
            F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "f1",
            F.when(
                F.col("precision") * F.col("recall") > 0,
                2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
            ).otherwise(F.lit(0.0)),
        )
    )
    w = Window.partitionBy("component_id").orderBy(F.desc("f1"), F.asc("k"))
    return metrics.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") == 1
    ).drop("rank")
