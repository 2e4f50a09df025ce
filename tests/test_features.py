"""Feature-engineering reports (F8)."""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from entity_resolution_spark.functions.features import iqr_outlier_report


def _per_column_report(df, cols, lower_q=0.15, upper_q=0.85, k=1.5):
    """Reference: one percentile aggregation and one filtered count per column."""
    rows = []
    for c in cols:
        q = df.agg(
            F.percentile(F.col(c), F.lit(lower_q)).alias("lo_q"),
            F.percentile(F.col(c), F.lit(upper_q)).alias("hi_q"),
        ).collect()[0]
        iqr = q["hi_q"] - q["lo_q"]
        lo, hi = q["lo_q"] - k * iqr, q["hi_q"] + k * iqr
        n_out = df.where((F.col(c) < lo) | (F.col(c) > hi)).count()
        rows.append((c, float(round(lo, 6)), float(round(hi, 6)), int(n_out)))
    return rows


def test_iqr_outlier_report_two_jobs_for_three_columns(spark):
    rng = np.random.default_rng(7)
    n = 400
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "heavy": rng.standard_t(2, n),
                "skewed": rng.exponential(size=n),
                "ints": rng.integers(0, 100, n),
            }
        )
    )
    cols = ["heavy", "skewed", "ints"]
    sc = spark.sparkContext
    group = f"iqr-{uuid.uuid4().hex[:8]}"
    # AQE submits each shuffle map stage as a job of its own; off, one
    # collected aggregation is exactly one job
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, "iqr_outlier_report")
    try:
        report = iqr_outlier_report(df, cols)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    got = [tuple(r) for r in report.collect()]
    assert got == _per_column_report(df, cols)
    assert any(r[3] > 0 for r in got)  # the heavy tail has outliers
