"""Pairwise precision/recall/F1 from cluster sizes, plus threshold metrics.

Reference ``block_klsh/clustering/perf_metrics.py:9-26``:
    tp = |pred ∩ true|, fp = |pred − true|, fn = |true − pred|
over the sets of same-cluster record pairs, computed there with Python sets.
Here no pair is enumerated: a cluster of n records holds C(n,2) pairs, so
the three counts come from the contingency table of (predicted, true)
cluster sizes.  F1 uses the reference's exact guard: 0 when
precision*recall == 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cluster_pair_metrics(pred: DataFrame, true: DataFrame) -> DataFrame:
    """One-row DataFrame (tp, fp, fn, precision, recall, f1).

    ``pred`` and ``true`` are (record_id, cluster) assignments, each record
    in at most one cluster per side.  Records with a null cluster form no
    pairs; records on one side only add to that side's pairs.

    * tp = Σ C(n,2) over (pred, true) cells of records on both sides;
    * fp = Σ_pred C(n,2) − tp;
    * fn = Σ_true C(n,2) − tp.

    One pass: a full outer join of the two sides, one ``cube`` of cell
    counts, and one aggregation that splits the cube's grouping sets by
    ``grouping_id`` (0: cells, 1: pred clusters, 2: true clusters).  A null
    cluster inside a grouping set is a record missing from that side.
    """

    def clean(df: DataFrame) -> DataFrame:
        return df.select("record_id", "cluster").dropna().distinct()

    c, t, g, n = F.col("c"), F.col("t"), F.col("g"), F.col("n")
    cells = (
        clean(pred).withColumnRenamed("cluster", "c")
        .join(clean(true).withColumnRenamed("cluster", "t"), "record_id", "full_outer")
        .cube("c", "t")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("g"))
    )

    def pairs(where) -> Column:
        return F.coalesce(F.shiftright(F.sum(F.when(where, n * (n - 1))), 1), F.lit(0))

    counts = cells.agg(
        pairs((g == 0) & c.isNotNull() & t.isNotNull()).alias("tp"),
        pairs((g == 1) & c.isNotNull()).alias("np"),
        pairs((g == 2) & t.isNotNull()).alias("nt"),
    ).select(
        "tp",
        (F.col("np") - F.col("tp")).alias("fp"),
        (F.col("nt") - F.col("tp")).alias("fn"),
    )
    return counts.select(
        "tp",
        "fp",
        "fn",
        (F.col("tp") / F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") + F.col("fp"))).alias("_pr"),
        (F.col("tp") / F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") + F.col("fn"))).alias("_rc"),
    ).select(
        "tp",
        "fp",
        "fn",
        F.coalesce(F.col("_pr"), F.lit(0.0)).alias("precision"),
        F.coalesce(F.col("_rc"), F.lit(0.0)).alias("recall"),
        F.coalesce(
            F.when(
                F.col("_pr") * F.col("_rc") > 0,
                2 * F.col("_pr") * F.col("_rc") / (F.col("_pr") + F.col("_rc")),
            ),
            F.lit(0.0),
        ).alias("f1"),
    )


def threshold_metrics(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "is_match",
    threshold: float = 0.7,
) -> DataFrame:
    """E5: binary classification metrics at ``score >= threshold``.

    Reference ``evaluate_pair_contrast.py:327-343,420-448`` (threshold 0.7,
    ``config.py:93``): precision/recall/accuracy/F1 + confusion counts.
    One aggregation; streams at any scale.
    """
    pred = (F.col(score_col) >= F.lit(threshold)).cast("int")
    y = F.col(label_col).cast("int")
    agg = scored.agg(
        F.sum(pred * y).alias("tp"),
        F.sum(pred * (1 - y)).alias("fp"),
        F.sum((1 - pred) * y).alias("fn"),
        F.sum((1 - pred) * (1 - y)).alias("tn"),
    )
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6).alias("precision"),
        F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6).alias("recall"),
        F.round(
            (F.col("tp") + F.col("tn"))
            / F.greatest(F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"), F.lit(1)),
            6,
        ).alias("accuracy"),
    )


def auroc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "is_match",
    n_bins: int = 64,
) -> DataFrame:
    """Exact AUROC via the Mann-Whitney probability identity — no global window.

    AUROC = P(s_pos > s_neg) + ½·P(s_pos = s_neg)
          = Σ_g pos_g · (neg_strictly_below_g + ½·neg_g) / (n_pos·n_neg)

    summed over distinct-score groups ``g`` — algebraically identical to the
    tie-corrected rank-sum (R_pos − n_pos(n_pos+1)/2)/(n_pos·n_neg) but
    computed without ranking individual rows:

    1. ``groupBy(score)`` collapses the (possibly huge) scored-pair table to
       one row per distinct score — a map-side-combinable hash aggregate.
    2. Distinct scores are range-binned by ~``n_bins`` approx-quantile
       boundaries; the running negative count is a **partitioned** window
       within each bin (never the single-partition ``Window.orderBy`` that
       Spark warns about) plus a per-bin offset from a tiny (≤ n_bins rows)
       collected totals table.

    Exact regardless of bin boundaries (bins only partition the work), so the
    result still hash-matches the oracle's rank-based SQL.

    Rows with a NULL score are dropped (a NULL has no place in a ranking);
    the per-score aggregate is localCheckpoint-ed — released by the context
    cleaner when the result goes out of scope, unlike ``cache`` which pins
    blocks for the session lifetime.
    """
    from pyspark.sql import Window

    from ..functions.maps import prefix_offset_expr

    y = F.col(label_col).cast("int")
    g = (
        scored.where(F.col(score_col).isNotNull())
        .select(F.col(score_col).alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.sum("y").alias("pos"), F.sum(1 - F.col("y")).alias("neg"))
    )
    g = g.localCheckpoint(eager=True)
    qs = [i / n_bins for i in range(1, n_bins)]
    bounds = sorted(set(b for b in g.approxQuantile("s", qs, 0.001) if b is not None))
    if bounds:
        bin_expr = sum(
            ((F.col("s") > F.lit(b)).cast("int") for b in bounds), F.lit(0)
        )
    else:
        bin_expr = F.lit(0)
    gb = g.withColumn("bin", bin_expr)
    # strictly-below cumulative negatives within each bin (partitioned window)
    w_in = (
        Window.partitionBy("bin")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gb = gb.withColumn("cumneg_in", F.coalesce(F.sum("neg").over(w_in), F.lit(0)))
    # per-bin totals: ≤ n_bins rows — a bounded driver-side prefix sum
    totals = {r["bin"]: r["bneg"] for r in
              gb.groupBy("bin").agg(F.sum("neg").alias("bneg")).collect()}
    off_expr = prefix_offset_expr(totals, F.col("bin"))
    agg = gb.agg(
        F.sum(
            F.col("pos") * (off_expr + F.col("cumneg_in") + F.col("neg") / 2.0)
        ).alias("num"),
        F.sum("pos").alias("npos"),
        F.sum("neg").alias("nneg"),
    )
    return agg.select(
        F.round(
            F.col("num") / F.greatest(F.col("npos") * F.col("nneg"), F.lit(1)),
            6,
        ).alias("auroc")
    )
