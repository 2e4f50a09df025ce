"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end ER pipeline on the sf0.001
documents table.  ``queries()`` exposes each implemented operator from
SURVEY.md §2 as a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one (from the
repo-level ``oracles`` module, which is never shipped to the workers).

Column-name discipline: every computed column is aliased identically in the
Spark query and the oracle SQL (the driver hash-compares sorted columns).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Make the package importable for this process and (local-mode) Python
# workers regardless of the caller's cwd; cluster workers get the package
# via addPyFile (entity_resolution_spark.entrypoints.ensure_shipped).
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)
os.environ["PYTHONPATH"] = (
    _HERE + os.pathsep + os.environ.get("PYTHONPATH", "")
)

# The driver pre-registers these parquet tables as DuckDB views.
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full ER pipeline (block → weight → prune → CC) over sf0.001
    documents; returns (component_id, size) cluster summary."""
    from entity_resolution_spark import entrypoints
    from entity_resolution_spark.operators import components, pairs

    entrypoints.ensure_shipped(spark)
    docs = entrypoints._doc(spark, "/root/testdata/sf0.001").select(
        F.col("doc_id").alias("record_id")
    )
    blocks = entrypoints._blocks(spark, "/root/testdata/sf0.001")
    edges = pairs.prune(pairs.edge_weights(blocks))
    assignment = components.assign_components(
        docs.select("record_id"),
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    return assignment.groupBy("component_id").agg(F.count("*").alias("size"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from entity_resolution_spark import entrypoints

    return entrypoints.queries()


def oracle_sql() -> dict[str, str]:
    import oracles

    return oracles.oracle_sql()
