"""Resumable stage checkpoints + per-partition lineage and metrics tables.

North-rule requirement: "resumable mid-run from snapshot checkpoints with
per-partition lineage and metrics tables".  Iceberg is not a dependency;
the mechanism is identical with parquet stage tables (on a real cluster,
swap ``parquet`` for ``iceberg`` and each stage write becomes a snapshot —
stage data only goes through ``spark.read``/``df.write``, and markers and
metrics files through the Hadoop FileSystem API, so ``base_dir`` may be a
local path or a file://, hdfs:// or s3a:// URI).

Layout under ``base_dir``::

    <base>/<run_id>/stages/<stage_name>/          parquet stage output
    <base>/<run_id>/stages/<stage_name>/_METRICS/ per-partition lineage rows
    <base>/<run_id>/stages/<stage_name>/_STAGE_METRICS.json  rows, seconds,
                                                             codegen_compiles

A stage is *done* iff its ``_SUCCESS`` marker exists; ``stage()`` then reads
the snapshot instead of recomputing — restartable from any point mid-run.
Metrics rows: one per output partition (partition id, row count) plus a
stage-level row (wall seconds, total rows, generated classes compiled) — the
lineage a monitoring job aggregates.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import codegen_compiles
from ..storage import delete, hadoop_fs, write_committed


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str) -> None:
        self.spark = spark
        self.base = f"{base_dir.rstrip('/')}/{run_id}"
        self.run_id = run_id
        fs, stages = hadoop_fs(spark, f"{self.base}/stages")
        fs.mkdirs(stages)

    def _stage_path(self, name: str) -> str:
        return f"{self.base}/stages/{name}"

    def is_done(self, name: str) -> bool:
        return write_committed(self.spark, self._stage_path(name))

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage output, computing+persisting it only if missing.

        On compute: write parquet, record per-partition lineage (partition id
        → row count) and stage metrics (rows, seconds, codegen_compiles)
        beside the data.  ``codegen_compiles`` is the number of classes Spark
        compiled across the stage's build and write: it counts every compile
        in the driver JVM, which in local mode includes executor tasks (and
        any other job running at the same time).
        """
        path = self._stage_path(name)
        if self.is_done(name):
            return self.spark.read.parquet(path)
        t0 = time.perf_counter()
        c0 = codegen_compiles(self.spark)
        df = build()
        df.write.mode("overwrite").parquet(path)
        seconds = time.perf_counter() - t0
        compiles = codegen_compiles(self.spark) - c0
        out = self.spark.read.parquet(path)
        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .withColumn("stage", F.lit(name))
            .withColumn("run_id", F.lit(self.run_id))
        )
        lineage.write.mode("overwrite").parquet(f"{path}/_METRICS")
        record = {
            "run_id": self.run_id,
            "stage": name,
            "rows": out.count(),
            "seconds": round(seconds, 3),
            "codegen_compiles": compiles,
        }
        fs, hpath = hadoop_fs(self.spark, f"{path}/_STAGE_METRICS.json")
        stream = fs.create(hpath, True)
        try:
            stream.write(bytearray(json.dumps(record).encode()))
        finally:
            stream.close()
        return out

    def metrics(self) -> list[dict]:
        """All recorded stage metrics for this run."""
        fs, stages = hadoop_fs(self.spark, f"{self.base}/stages")
        out = []
        for st in sorted(fs.listStatus(stages), key=lambda st: st.getPath().getName()):
            _, p = hadoop_fs(self.spark, f"{st.getPath().toString()}/_STAGE_METRICS.json")
            if fs.exists(p):
                stream = fs.open(p)
                try:
                    out.append(json.loads(bytes(stream.readAllBytes())))
                finally:
                    stream.close()
        return out

    def lineage(self, name: str) -> DataFrame:
        return self.spark.read.parquet(f"{self._stage_path(name)}/_METRICS")

    def invalidate(self, name: str) -> None:
        """Drop a stage (and force downstream recompute on next access)."""
        delete(self.spark, self._stage_path(name))


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
