"""Streaming crawl-snapshot compaction — latest version per canonical URL,
maintained incrementally over a crawl stream.

``foreachBatch`` pattern: each micro-batch canonicalizes its URLs, runs the
same ``latest_snapshot_per_key`` aggregate over (batch ∪ current state), and
atomically replaces the state table.  Correctness is immediate from the
aggregate's algebra — ``max(struct(ts, -id))`` is associative and
commutative, so folding batches in ANY arrival order yields exactly the
batch-mode result over the union of all inputs (the equality test drives
both paths over the same rows in different orders).

Scale shape: state holds ONE row per canonical URL (not per snapshot), the
per-batch work is one hash aggregate over (batch + state) co-keyed by URL,
and the rewrite is crash-atomic under the commit protocol of ``storage.py``:
each batch writes a fresh versioned directory ``state_v{batch_id}``, then a
``_COMMITTED`` marker into it, and only then deletes the superseded
versions.  The live state is the highest committed version, and its number
is the last applied batch id — so a crash at any point resumes from either
the pre-batch or post-batch state, never from empty (a swap that renames
the live directory away before renaming the new one in has a window with
NO state; replaying the batch after a crash there would re-fold n_versions
from zero and undercount).  Markers, listing and deletes go through the
Hadoop FileSystem API, so ``state_dir`` may be a local path or a file://,
hdfs:// or s3a:// URI.  On a real cluster the state table would live in a
table format with upserts (the aggregate is a textbook MERGE and the marker
is a snapshot commit), but the fold logic is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage
from ..functions.urls import canonical_url
from ..operators.relational import latest_snapshot_per_key


class StreamingCrawlCompactor:
    """Maintains the newest (smallest-id on ties) snapshot per canonical
    URL across micro-batches of ``(url, warc_ts, doc_id)`` rows."""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")

    def _path(self, batch_id: int) -> str:
        return f"{self.state_dir}/state_v{batch_id}"

    def state(self) -> DataFrame | None:
        applied = storage.latest(self.spark, self.state_dir, "state_v")
        return None if applied is None else self.spark.read.parquet(self._path(applied))

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # Idempotent replay: foreachBatch re-delivers a batch when the
        # stream crashed AFTER our commit but BEFORE the streaming offset
        # commit.  The live version's number is the last applied batch id,
        # so the replay is a no-op — without this, re-folding the batch
        # onto the post-batch state would double-count n_versions, and
        # writing state_v{batch_id} again would self-overwrite the
        # directory the lazily-read state() DataFrame is scanning.
        applied = storage.latest(self.spark, self.state_dir, "state_v")
        if applied is not None and batch_id <= applied:
            return
        snaps = batch.select(
            canonical_url(F.col("url")).alias("canonical_url"),
            F.col("warc_ts"),
            F.col("doc_id"),
        )
        new = latest_snapshot_per_key(
            snaps, "canonical_url", "warc_ts", "doc_id"
        )
        cur = self.state()
        if cur is not None:
            # Fold state into the same aggregate: re-aggregate the union of
            # the state's (1-row-per-url) representatives and the batch
            # winners.  n_versions must SUM across the fold (each side
            # already counted its own versions), while the argmax re-runs
            # on the two representatives — associativity does the rest.
            both = cur.select(
                "canonical_url",
                "n_versions",
                F.col("latest_ts").alias("warc_ts"),
                F.col("keep_doc_id").alias("doc_id"),
            ).unionByName(
                new.select(
                    "canonical_url",
                    "n_versions",
                    F.col("latest_ts").alias("warc_ts"),
                    F.col("keep_doc_id").alias("doc_id"),
                )
            )
            win = F.max(
                F.struct(
                    F.col("warc_ts").alias("ts"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("w")
            new = (
                both.groupBy("canonical_url")
                .agg(F.sum("n_versions").cast("long").alias("n_versions"), win)
                .select(
                    "canonical_url",
                    "n_versions",
                    F.col("w.ts").alias("latest_ts"),
                    (-F.col("w.nid")).alias("keep_doc_id"),
                )
            )
        # Crash-atomic swap: write the new state as its own versioned dir
        # (overwriting the orphan of a crashed attempt at this batch), commit
        # it, and only then delete older versions — a crash at ANY line
        # leaves the highest committed version complete.
        path = self._path(batch_id)
        new.write.mode("overwrite").parquet(path)
        storage.commit(self.spark, path)
        for old in storage.versions(self.spark, self.state_dir, "state_v"):
            if old < batch_id:
                storage.delete(self.spark, self._path(old))

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """Wire onto a streaming DataFrame of (url, warc_ts, doc_id)."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
