"""Feature engineering — quarter-circle embeddings, scalers, weighting (F1-F6).

Reference semantics (re-derived from ``block_klsh/features/features_engineering.py``
and ``clustering/klsh_engine.py:148-198``):

* bool → quarter circle: 0 → (1,0), 1 → (0,1)                (``features_engineering.py:9-19``)
* ordinal v ∈ [0,max] → θ = v/max·π/2 → (cos θ, sin θ)       (``:21-36``)
* date → fraction of [ref, ref+horizon] clamped to [0,1] →
  θ·π/2 → (cos θ, sin θ)                                      (``:38-58``)
* numeric → z-score, fitted *per component* (population std,
  sklearn StandardScaler semantics)                           (``klsh_engine.py:159-161``)
* each engineered column multiplied by its weight             (``klsh_engine.py:164-184``)

All JVM-side column expressions; the per-component scaler fit is a groupBy
over the component id joined back, so the "fit" never leaves the executors.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HALF_PI = math.pi / 2.0


def embed_bool(col: Column) -> tuple[Column, Column]:
    """0 → (1,0), anything else → (0,1)."""
    cos = F.when(col.cast("int") == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    sin = F.when(col.cast("int") == 0, F.lit(0.0)).otherwise(F.lit(1.0))
    return cos, sin


def embed_ordinal(col: Column, max_value: int) -> tuple[Column, Column]:
    theta = col.cast("double") / F.lit(float(max_value)) * F.lit(HALF_PI)
    return F.cos(theta), F.sin(theta)


def embed_date(
    col: Column, ref_date: str = "2015-01-01", horizon_days: int = 365 * 60
) -> tuple[Column, Column]:
    """Clamped fraction of [ref, ref+horizon] on a quarter circle."""
    delta_s = col.cast("timestamp").cast("double") - F.to_timestamp(
        F.lit(ref_date)
    ).cast("double")
    frac = F.least(F.greatest(delta_s / F.lit(horizon_days * 86400.0), F.lit(0.0)), F.lit(1.0))
    theta = frac * F.lit(HALF_PI)
    return F.cos(theta), F.sin(theta)


def iqr_outlier_report(
    df: DataFrame,
    cols: list[str],
    lower_q: float = 0.15,
    upper_q: float = 0.85,
    k: float = 1.5,
) -> DataFrame:
    """F8: IQR outlier *report* — bounds + counts, no filtering (the reference
    logs and ignores: ``feature_engineering.py:141-142,170-193``).

    Exact interpolated percentiles (``F.percentile``) so the SQL oracle
    (quantile_cont) reproduces the numbers.  Two Spark jobs for any number of
    columns: one aggregation of every percentile, then one of every
    column's outlier count.
    """
    qs = df.agg(
        *[F.percentile(F.col(c), F.lit(q)) for c in cols for q in (lower_q, upper_q)]
    ).collect()[0]
    bounds = []
    for i, c in enumerate(cols):
        lo_q, hi_q = qs[2 * i], qs[2 * i + 1]
        iqr = hi_q - lo_q
        bounds.append((c, lo_q - k * iqr, hi_q + k * iqr))
    counts = df.agg(
        *[F.count(F.when((F.col(c) < lo) | (F.col(c) > hi), 1)) for c, lo, hi in bounds]
    ).collect()[0]
    rows = [
        (c, float(round(lo, 6)), float(round(hi, 6)), int(n))
        for (c, lo, hi), n in zip(bounds, counts)
    ]
    return df.sparkSession.createDataFrame(
        rows, "feature string, lower_bound double, upper_bound double, n_outliers long"
    )


@dataclass(frozen=True)
class FeatureSpec:
    """Declarative feature plan for the KLSH stage (mirrors the reference's
    hard-coded column handling in ``klsh_engine.py:154-184``)."""

    numeric_cols: tuple[str, ...] = ()                    # z-score per component
    bool_cols: tuple[str, ...] = ()                       # quarter-circle
    ordinal_cols: tuple[tuple[str, int], ...] = ()        # (col, max)
    date_cols: tuple[tuple[str, str, int], ...] = ()      # (col, ref_date, horizon_days)
    weights: dict[str, float] = field(default_factory=dict)

    def output_columns(self) -> list[str]:
        out = []
        for c in self.bool_cols:
            out += [f"{c}_cos", f"{c}_sin"]
        out += list(self.numeric_cols)
        for c, _, _ in self.date_cols:
            out += [f"{c}_cos", f"{c}_sin"]
        for c, _ in self.ordinal_cols:
            out += [f"{c}_cos", f"{c}_sin"]
        return out

    def weight(self, name: str) -> float:
        return float(self.weights.get(name, 1.0))


def engineer(df: DataFrame, spec: FeatureSpec, component_col: str = "component_id") -> DataFrame:
    """Spark-side feature engineering producing the weighted numeric columns
    (``spec.output_columns()``, in ``klsh.engineer_pandas`` order).

    The per-component scaler fit — the reference's per-slice
    ``StandardScaler().fit_transform`` — is a groupBy (map-side combinable
    partial aggregates) joined back on the component id, not a window: a
    window buffers a whole mega component in one task.  The join is
    null-safe, so rows with a NULL component are scaled as one group.
    """
    out = df
    for c in spec.bool_cols:
        cos, sin = embed_bool(F.col(c))
        out = out.withColumn(f"{c}_cos", cos * spec.weight(f"{c}_cos"))
        out = out.withColumn(f"{c}_sin", sin * spec.weight(f"{c}_sin"))
    if spec.numeric_cols:
        aggs = []
        for c in spec.numeric_cols:
            aggs += [
                F.avg(F.col(c).cast("double")).alias(f"_mu_{c}"),
                F.stddev_pop(F.col(c).cast("double")).alias(f"_sd_{c}"),
            ]
        stats = df.groupBy(F.col(component_col).alias("_grp")).agg(*aggs)
        out = out.join(stats, out[component_col].eqNullSafe(stats["_grp"]))
        for c in spec.numeric_cols:
            mu, sd = F.col(f"_mu_{c}"), F.col(f"_sd_{c}")
            z = F.when(sd > 0, (F.col(c).cast("double") - mu) / sd).otherwise(F.lit(0.0))
            out = out.withColumn(c, z * spec.weight(c))
        out = out.drop(*stats.columns)
    for c, ref, horizon in spec.date_cols:
        cos, sin = embed_date(F.col(c), ref, horizon)
        out = out.withColumn(f"{c}_cos", cos * spec.weight(f"{c}_cos"))
        out = out.withColumn(f"{c}_sin", sin * spec.weight(f"{c}_sin"))
    for c, mx in spec.ordinal_cols:
        cos, sin = embed_ordinal(F.col(c), mx)
        out = out.withColumn(f"{c}_cos", cos * spec.weight(f"{c}_cos"))
        out = out.withColumn(f"{c}_sin", sin * spec.weight(f"{c}_sin"))
    return out
