"""Resumable stage checkpoints + per-partition lineage and metrics tables.

North-rule requirement: "resumable mid-run from snapshot checkpoints with
per-partition lineage and metrics tables".  Iceberg is not in this container;
the mechanism is identical with parquet stage tables (on a real cluster,
swap ``parquet`` for ``iceberg`` and each stage write becomes a snapshot —
the checkpointer only touches ``spark.read``/``df.write``).

Layout under ``base_dir``::

    <base>/<run_id>/stages/<stage_name>/          parquet stage output
    <base>/<run_id>/stages/<stage_name>/_METRICS/ per-partition lineage rows

A stage is *done* iff its ``_SUCCESS`` marker exists; ``stage()`` then reads
the snapshot instead of recomputing — restartable from any point mid-run.
Metrics rows: one per output partition (partition id, row count) plus a
stage-level row (wall seconds, total rows) — the lineage a monitoring job
aggregates.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str) -> None:
        self.spark = spark
        self.base = os.path.join(base_dir, run_id)
        self.run_id = run_id
        os.makedirs(os.path.join(self.base, "stages"), exist_ok=True)

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.base, "stages", name)

    def is_done(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._stage_path(name), "_SUCCESS"))

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage output, computing+persisting it only if missing.

        On compute: write parquet, record per-partition lineage (partition id
        → row count) and stage metrics (rows, seconds) beside the data.
        """
        path = self._stage_path(name)
        if self.is_done(name):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        df = build()
        df.write.mode("overwrite").parquet(path)
        seconds = time.perf_counter() - t0
        out = self.spark.read.parquet(path)
        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .withColumn("stage", F.lit(name))
            .withColumn("run_id", F.lit(self.run_id))
        )
        lineage.write.mode("overwrite").parquet(os.path.join(path, "_METRICS"))
        with open(os.path.join(path, "_STAGE_METRICS.json"), "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "stage": name,
                    "rows": out.count(),
                    "seconds": round(seconds, 3),
                },
                f,
            )
        return out

    def metrics(self) -> list[dict]:
        """All recorded stage metrics for this run."""
        out = []
        stages_dir = os.path.join(self.base, "stages")
        for name in sorted(os.listdir(stages_dir)):
            p = os.path.join(stages_dir, name, "_STAGE_METRICS.json")
            if os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return out

    def lineage(self, name: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._stage_path(name), "_METRICS"))

    def invalidate(self, name: str) -> None:
        """Drop a stage (and force downstream recompute on next access)."""
        import shutil

        shutil.rmtree(self._stage_path(name), ignore_errors=True)


def resolve_checkpointed(
    pages: DataFrame,
    ckpt: StageCheckpointer,
    cfg=None,
) -> DataFrame:
    """The full ER pipeline with a checkpoint after every stage — restart the
    driver mid-run and completed stages are read back instead of recomputed.
    """
    from . import pipeline

    return pipeline.stage_graph(pages, cfg or pipeline.ERConfig(), ckpt.stage)
