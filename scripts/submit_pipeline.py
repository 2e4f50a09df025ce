"""spark-submit entry point: full ER pipeline over a pages parquet table.

Cluster deployment path (north_rule: "run via spark-submit --py-files on
multi-executor clusters"):

    python scripts/build_pyfiles_zip.py /tmp/er_pkg.zip
    spark-submit --master <cluster> --py-files /tmp/er_pkg.zip \\
        scripts/submit_pipeline.py <pages_parquet_dir> <output_dir> [checkpoint_dir]

Reads the pages table, runs extract → block → meta-block → prune → CC
(checkpointed + resumable when a checkpoint dir is given), writes the entity
assignment parquet and prints a one-line JSON summary, which includes the
session's effective value of each ``session.DEFAULT_CONFS`` key it applies.
Those defaults apply wherever spark-submit's ``--conf`` (or spark-defaults.conf)
leaves a key unset.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    pages_path, out_path = sys.argv[1], sys.argv[2]
    ckpt_dir = sys.argv[3] if len(sys.argv) > 3 else None

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from entity_resolution_spark.session import DEFAULT_CONFS

    # The driver JVM is already running, so its heap comes from spark-submit's
    # --driver-memory, not from DEFAULT_CONFS.
    confs = {k: v for k, v in DEFAULT_CONFS.items() if k != "spark.driver.memory"}
    # Attach to spark-submit's JVM first so SparkConf() loads its --master and
    # --conf values; the engine's defaults then fill only the keys left unset.
    SparkContext._ensure_initialized()
    conf = SparkConf()
    for key, value in confs.items():
        conf.setIfMissing(key, value)
    spark = SparkSession.builder.appName("er-submit").config(conf=conf).getOrCreate()
    # When launched via spark-submit --py-files the package is already on
    # every executor's path; ensure_shipped is a no-op safety net for other
    # launchers.
    from entity_resolution_spark import entrypoints
    from entity_resolution_spark.plans import pipeline
    from entity_resolution_spark.plans.checkpoint import (
        StageCheckpointer,
        resolve_checkpointed,
    )

    entrypoints.ensure_shipped(spark)
    pages = spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    if ckpt_dir:
        ckpt = StageCheckpointer(spark, ckpt_dir, "submit")
        assignment = resolve_checkpointed(pages, ckpt)
    else:
        assignment = pipeline.resolve(pages)
    assignment.write.mode("overwrite").parquet(out_path)
    done = spark.read.parquet(out_path)
    summary = {
        "rows": done.count(),
        "entities": done.select("component_id").distinct().count(),
        "seconds": round(time.perf_counter() - t0, 3),
        "confs": {key: spark.conf.get(key) for key in confs},
    }
    spark.stop()
    print("SUBMIT_RESULT " + json.dumps(summary))


if __name__ == "__main__":
    main()
