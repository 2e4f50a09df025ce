"""Continuous entity resolution — micro-batch incremental pipeline.

``foreachBatch`` pattern over a pages stream: each micro-batch appends its
``(record_id, block_key)`` rows to a cumulative blocks table, computes the
*delta* edges, appends them to a cumulative pruned-edge table, and recomputes
the entity assignment by connected components over the cumulative edges.

The delta-edge recompute is exact, not approximate — including for
*re-crawled* urls (a record_id whose key set grows across batches), because:

1. pair weights are monotone: the cumulative blocks table only gains
   (record_id, block_key) rows, so a pair's distinct-shared-key count never
   shrinks, and an edge that crossed the prune threshold stays crossed;
2. a pair's weight can only change when one of its records appears in the
   batch, and every shared key of such a pair is one of that record's
   *cumulative* keys — so "touched blocks" is defined as all blocks holding
   any cumulative key of any record_id seen in this batch (not merely the
   batch's own new keys), and the per-batch weight over touched blocks is
   the full cumulative weight.

So per batch it suffices to generate pairs inside touched blocks, keep those
involving ≥1 batch record, weight+prune them, and append (re-emitting a pair
at a higher weight is harmless — components use edges as a set).  Component
ids are min-record-id, hence deterministic regardless of arrival order — the
final assignment equals the batch pipeline's on the same cumulative input,
as long as no block exceeds ``ERConfig.max_block_size``: the batch pipeline
purges such blocks, and this path purges none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import blocking as B
from ..operators import components as C
from ..operators import pairs as P
from ..plans.pipeline import ERConfig


class ContinuousER:
    def __init__(self, spark: SparkSession, state_dir: str,
                 prune_threshold: float = P.PRUNE_THRESHOLD,
                 compact_every: int = 1) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.prune_threshold = prune_threshold
        # Re-crawl-heavy streams re-emit edges at growing weights; without
        # compaction the appended edge table grows with the re-crawl rate
        # (harmless for CC — edges are a set — but unbounded storage).
        # Every `compact_every` batches the table is rewritten deduped to
        # (id1, id2) at max weight; 0 disables.
        self.compact_every = compact_every

    def _path(self, name: str) -> str:
        return f"{self.state_dir}/{name}"

    def _batch_blocks(self, batch: DataFrame) -> DataFrame:
        """The batch pipeline's blocking rule (``ERConfig().stages``), with no
        block purging."""
        recs = batch.select(
            F.xxhash64("url").alias("record_id"),
            T.title_of(F.col("text")).alias("title"),
        )
        return B.block(recs, ERConfig().stages)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        new_blocks = self._batch_blocks(batch).localCheckpoint()
        new_blocks.write.mode("append").parquet(self._path("blocks"))
        blocks = self.spark.read.parquet(self._path("blocks")).distinct()

        # Delta edges: pairs inside touched blocks involving >=1 batch record.
        # Touched = every block holding ANY cumulative key of a batch record —
        # a re-crawled url's earlier keys count toward pair weights too (a
        # batch-keys-only delta would undercount pairs whose shared keys span
        # batches and never emit their edge).
        new_ids = new_blocks.select("record_id").distinct()
        affected_keys = (
            blocks.join(F.broadcast(new_ids), "record_id")
            .select("block_key")
            .distinct()
        )
        touched = blocks.join(F.broadcast(affected_keys), "block_key")
        # The touch filter is per pair, so filtering after the weight count
        # keeps the same edges as filtering before it.
        n1 = new_ids.withColumnRenamed("record_id", "id1").withColumn("_n1", F.lit(1))
        n2 = new_ids.withColumnRenamed("record_id", "id2").withColumn("_n2", F.lit(1))
        delta = (
            P.prune(P.edge_weights(touched), self.prune_threshold)
            .join(n1, "id1", "left")
            .join(n2, "id2", "left")
            .where(F.col("_n1").isNotNull() | F.col("_n2").isNotNull())
            .select("id1", "id2", "weight")
        )
        delta.write.mode("append").parquet(self._path("edges"))

        edges = self.spark.read.parquet(self._path("edges"))
        if self.compact_every and batch_id % self.compact_every == 0:
            # materialize (localCheckpoint) BEFORE the overwrite so the
            # rewrite never reads the files it is replacing; on a cluster
            # this is a write-new-dir + swap
            compacted = (
                edges.groupBy("id1", "id2")
                .agg(F.max("weight").alias("weight"))
                .localCheckpoint(eager=True)
            )
            compacted.write.mode("overwrite").parquet(self._path("edges"))
            edges = self.spark.read.parquet(self._path("edges"))
        assignment = C.assign_components(
            blocks.select("record_id").distinct(),
            edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
        )
        assignment.write.mode("overwrite").parquet(self._path("assignment"))

    def attach(self, pages_stream: DataFrame):
        """Start the streaming query (availableNow-compatible)."""
        return (
            pages_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self._path("_ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    def current_assignment(self) -> DataFrame:
        return self.spark.read.parquet(self._path("assignment"))
