"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow knobs are set so that tests, bench and the
driver contract all run with the same physical configuration.  On a real
cluster these are the same configs you would pass to ``spark-submit``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the sandbox (single JVM, local[N]); on a real cluster the
# same settings scale: AQE coalesces the 2x-overprovisioned shuffle partitions
# and splits skewed ones at runtime.
DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF crossing; batch size bounded so encoder /
    # TF-IDF batches fit executor memory even with wide array columns.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dims aggressively (component maps, scaler params...).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamps regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # Generated-class cache (a static conf: set when the session is built).
    # Spark's default of 100 is below one warm request's working set, so LRU
    # eviction recompiled every class on every warm request.  Classes compiled
    # per call (codegen_compiles deltas; local[4], shared 4-vCPU Intel Xeon
    # VM), at 100 -> 2048:
    #   ER request (resolve + score + evaluate, 60 entities) alternating with
    #     prepared_corpus at sf0.001, warm rounds: 110 + 122 -> 0 + 0;
    #   all 71 driver queries at sf0.001, two passes: 1208, 1192 -> 919, 8
    #     (second pass 67.0 -> 55.3 s).
    # 2048 is the smallest power of two at least twice the 919-class working
    # set: Guava's cache evicts per segment, before it is full.  Classes
    # average ~3 KB of bytecode (max 24 KB), a few MB in all.  To re-measure,
    # pass a huge value through get_spark(extra_confs=...) and count a first
    # pass of the calls.
    "spark.sql.codegen.cache.maxEntries": "2048",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "entity_resolution_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configs.

    ``shuffle_partitions`` defaults to 2x the core count: AQE coalesces the
    excess, while under-provisioning cannot be fixed at runtime.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cores)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this driver JVM so far
    (``CodegenMetrics``); in local mode that includes executor tasks."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
