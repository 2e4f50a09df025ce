"""Blocking: records → long-form ``(record_id, block_key)`` table.

Re-expresses the reference block tree (``block_klsh/blocking/block_tree.py:88-150``)
without ever materialising blocks as index lists:

* multi-key rules emit an array column → ``F.explode`` (ref ``block_tree.py:131``);
* a *stage* applies a rule within the blocks of the previous stage — the
  hierarchical child key ``parent_key + "-{feature}_{rule}:{key}"``
  (``block_tree.py:137``) becomes a ``concat_ws`` of per-stage key columns;
* block membership is deduped per (record, key) — the reference stores block
  indices as a ``frozenset`` (``block_tree.py:136``), so a record contributing
  the same key twice (e.g. first_two == first_three for a 2-char name) joins
  the block once.

Scale hardening (required by the target, absent in the reference):

* **block-size caps** — a hot key (empty consonant skeleton, 1-char prefix at
  web scale) makes the downstream self-join quadratic in one task.  Blocks
  larger than ``max_block_size`` are dropped (standard meta-blocking "block
  purging"); the cap is computed with one hash aggregation, no collect.
* **salting** for the residual skew inside the cap is applied at pair-join time
  (see ``pairs.py``) plus AQE skew-join handles runtime stragglers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import blocking_keys as BK

# A rule maps a column to an ARRAY<STRING> (multi-key) or STRING (single key).
RuleFn = Callable[[Column], Column]

RULE_LIBRARY: dict[str, RuleFn] = {
    "phonetic_combination": BK.phonetic_combination,
    "phonetic": BK.phonetic_key,
    "two_of_three_date": BK.two_of_three_date,
    "sliding_window": BK.sliding_window_key,
    # exact-match blocking: the value itself is the key (standard rule the
    # reference's JSON library shape supports; used for e.g. lang stages)
    "exact": lambda c: F.lower(c.cast("string")),
}


@dataclass(frozen=True)
class BlockingStage:
    """One stage of the hierarchical blocking scenario: (feature, rule)."""

    feature: str
    rule_name: str

    def key_column(self) -> Column:
        rule = RULE_LIBRARY[self.rule_name]
        col = rule(F.col(self.feature))
        # Normalize to array for uniform explode.
        return col if self.rule_name in ("phonetic_combination", "two_of_three_date") else F.array(col)


def block_key_rows(
    df: DataFrame,
    stages: list[BlockingStage],
    keep: list[str | Column],
    initial_block: str = "initial_block",
) -> DataFrame:
    """The ``keep`` columns plus one ``block_key`` row per (record, stage
    key, hierarchy level) — the blocking rule itself, without dedup or
    purging, so streaming callers can apply it to an unbounded stream."""
    out = df
    key_cols: list[Column] = []
    for i, stage in enumerate(stages):
        kc = f"__bk{i}"
        out = out.withColumn(kc, F.explode(stage.key_column()))
        key_cols.append(
            F.concat(F.lit(f"-{stage.feature}_{stage.rule_name}:"), F.col(kc))
        )
    level_keys = [
        F.concat(F.lit(initial_block), *key_cols[: depth + 1])
        for depth in range(len(key_cols))
    ]
    return out.select(*keep, F.explode(F.array(*level_keys)).alias("block_key"))


def block(
    df: DataFrame,
    stages: list[BlockingStage],
    id_col: str = "record_id",
    max_block_size: int | None = None,
    initial_block: str = "initial_block",
) -> DataFrame:
    """Return the long-form block table ``(record_id, block_key)``, distinct.

    Multi-stage scenarios nest: stage-2 keys only co-block records that already
    share a stage-1 key, which the composite key encodes exactly like the
    reference's ``parent_key + "-{feature}_{rule}:{key}"``.

    **Every hierarchy level is emitted**, not just the deepest: the reference's
    ``_track_pair_provenance_and_weights`` (``block_tree.py:161-199``) counts
    pair co-occurrence in the blocks of every level ≥ 1 (only the level-0 root
    is skipped), so a pair sharing a stage-1 key *and* a stage-2 composite key
    has weight 2.  Emitting the cumulative prefix key per stage reproduces
    that: level L's block key is the concat of stages 1..L.
    """
    blocks = block_key_rows(
        df, stages, [F.col(id_col).alias("record_id")], initial_block
    ).distinct()  # frozenset semantics: one membership per (record, key)

    if max_block_size is not None:
        # Block purging: a map-side-combinable count per key, joined back and
        # filtered.  An inner join keeps both reads of ``blocks`` above the
        # same distinct, so its exchange (and the extract UDF below it) runs
        # once; Spark pushes a left_anti join below the distinct instead and
        # computes the table twice.  Not a Window count: that buffers a whole
        # hot block in one task, which is what the purge exists to prevent.
        kept = block_sizes(blocks).where(F.col("block_size") <= F.lit(max_block_size))
        blocks = blocks.join(kept, "block_key").select("record_id", "block_key")
    return blocks


def block_sizes(blocks: DataFrame) -> DataFrame:
    """(block_key, block_size) — map-side combinable hash aggregation."""
    return blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))
