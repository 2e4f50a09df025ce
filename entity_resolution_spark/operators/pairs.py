"""Candidate-pair generation + meta-blocking edge weights + pruning.

Reference semantics (``block_klsh/blocking/block_tree.py:161-225``):

* candidate pairs = all i<j within each block (nested loops at
  ``block_tree.py:180-197``) → here a **block-local self-join** with a
  ``<`` theta predicate on the canonical ids;
* edge weight = number of *distinct blocks* a pair co-occurs in (the `+1` per
  block at ``block_tree.py:196``; blocks are identified by their key string,
  so two rules emitting the same key collapse into one block — reproduced by
  counting distinct ``block_key`` per pair);
* provenance = set of contributing block keys (``block_tree.py:190-193``) →
  ``collect_set`` (kept sorted for deterministic output);
* prune: keep weight > threshold (default 1.5 ⇒ co-occur in ≥2 blocks,
  ``block_tree.py:213``, threshold ``config.py:23``).

Scale notes: the probe side of the self-join is hash-partitioned by
``record_id``, so pair generation runs on every core; pair counting is a
map-side-combinable hash agg on (id1, id2).  Skew: oversized
blocks are purged upstream (``blocking.block``); residual intra-cap skew is
split at runtime by AQE's skew-join.  An optional ``salt_buckets`` performs
explicit triangle-salting of the self-join for clusters where AQE is
unavailable: each block's rows are hashed into ``s`` buckets and the join runs
per bucket-pair (i<=j), turning one quadratic task into s(s+1)/2 smaller ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRUNE_THRESHOLD = 1.5  # reference block_klsh/config.py:23


def candidate_pairs(
    blocks: DataFrame,
    distinct: bool = True,
    broadcast_blocks: bool = False,
) -> DataFrame:
    """All i<j pairs within each block: (id1, id2[, block_key]).

    With ``distinct=True`` collapses multi-block duplicates → the candidate
    set; with ``distinct=False`` keeps one row per (pair, block) for weighting.

    The probe side is hash-partitioned by ``record_id`` over the session's
    default parallelism.  A small block table otherwise arrives in one
    partition (a narrow scan, or AQE coalescing it) and the whole quadratic
    pair generation runs in one task.  Hashing by ``record_id`` rather than
    round-robin keeps every (pair, block) row of a pair — one per shared
    block — in one task, so ``edge_weights``' partial aggregation still
    combines them; with a broadcast build side, ``id1`` keeps that
    partitioning and the (id1, id2) aggregation needs no further shuffle.

    ``broadcast_blocks`` broadcasts the build side (valid when the block
    table fits the broadcast threshold; at larger scale leave False and use
    ``candidate_pairs_salted`` for skew).
    """
    n = blocks.sparkSession.sparkContext.defaultParallelism
    left = blocks.repartition(n, "record_id").alias("l")
    right = F.broadcast(blocks) if broadcast_blocks else blocks
    right = right.alias("r")
    pairs = (
        left.join(right, on="block_key")
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("id1"),
            F.col("r.record_id").alias("id2"),
            F.col("block_key"),
        )
    )
    return pairs.select("id1", "id2").distinct() if distinct else pairs


def candidate_pairs_salted(blocks: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Triangle-salted block-local self-join (explicit skew handling).

    Rows are bucketed by a hash of record_id into ``salt_buckets``; the
    self-join key becomes (block_key, bucket-combo) over all s^2 ordered
    combos, which caps any single task's pair count at (B/s)^2-ish instead of
    B^2.  Produces the same (id1,id2,block_key) rows as ``candidate_pairs``.
    """
    s = salt_buckets
    bucketed = blocks.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("record_id")), F.lit(s)).cast("int")
    )
    # All ordered (bl, br) combos: the i<j filter is on record ids, whose
    # buckets are in arbitrary order, so both bucket orders must be joined.
    combos = (
        bucketed.sparkSession.range(s)
        .select(F.col("id").cast("int").alias("bl"))
        .join(
            bucketed.sparkSession.range(s).select(F.col("id").cast("int").alias("br")),
            F.lit(True),
        )
    )
    left = bucketed.join(F.broadcast(combos), F.col("bucket") == F.col("bl")).alias("l")
    right = bucketed.alias("r")
    return (
        left.join(
            right,
            (F.col("l.block_key") == F.col("r.block_key"))
            & (F.col("l.br") == F.col("r.bucket")),
        )
        .where(F.col("l.record_id") < F.col("r.record_id"))
        .select(
            F.col("l.record_id").alias("id1"),
            F.col("r.record_id").alias("id2"),
            F.col("l.block_key").alias("block_key"),
        )
    )


def edge_weights(
    blocks: DataFrame,
    with_provenance: bool = False,
    salt_buckets: int | None = None,
    broadcast_blocks: bool = False,
) -> DataFrame:
    """Meta-blocking: (id1, id2, weight[, provenance]).

    weight = # distinct blocks the pair shares.  ``block_key`` is already
    distinct per (record, key) upstream, so a plain count is the distinct-block
    count — no ``count_distinct`` shuffle-heavy path needed.

    ``broadcast_blocks`` forwards to ``candidate_pairs``.
    """
    pairs = (
        candidate_pairs_salted(blocks, salt_buckets)
        if salt_buckets
        else candidate_pairs(blocks, distinct=False, broadcast_blocks=broadcast_blocks)
    )
    aggs = [F.count("*").alias("weight")]
    if with_provenance:
        # sorted for deterministic output across partitionings
        aggs.append(F.array_sort(F.collect_set("block_key")).alias("provenance"))
    return pairs.groupBy("id1", "id2").agg(*aggs)


def prune(edges: DataFrame, threshold: float = PRUNE_THRESHOLD) -> DataFrame:
    """Keep edges with weight > threshold (ref ``block_tree.py:213``)."""
    return edges.where(F.col("weight") > F.lit(threshold))
