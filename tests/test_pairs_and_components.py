"""Meta-blocking pair weights, pruning and connected components (G2-G6)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from entity_resolution_spark.operators import blocking, components, pairs
from entity_resolution_spark.operators.blocking import BlockingStage


def _blocks(spark, rows):
    return spark.createDataFrame(rows, ["record_id", "block_key"])


def test_edge_weights_count_distinct_blocks(spark):
    blocks = _blocks(
        spark,
        [(1, "a"), (2, "a"), (1, "b"), (2, "b"), (3, "b"), (1, "c"), (3, "c")],
    )
    got = {
        (r["id1"], r["id2"]): r["weight"]
        for r in pairs.edge_weights(blocks).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 2, (2, 3): 1}


def test_provenance_sorted(spark):
    blocks = _blocks(spark, [(1, "b"), (2, "b"), (1, "a"), (2, "a")])
    row = pairs.edge_weights(blocks, with_provenance=True).collect()[0]
    assert row["provenance"] == ["a", "b"]


def test_prune_threshold(spark):
    blocks = _blocks(
        spark, [(1, "a"), (2, "a"), (1, "b"), (2, "b"), (3, "b"), (1, "c"), (3, "c")]
    )
    kept = {
        (r["id1"], r["id2"])
        for r in pairs.prune(pairs.edge_weights(blocks)).collect()
    }
    assert kept == {(1, 2), (1, 3)}  # weight 2 > 1.5; (2,3) weight 1 pruned


def test_salted_pairs_equal_plain(spark):
    rows = [(i, f"k{i % 3}") for i in range(30)] + [(i, "shared") for i in range(10)]
    blocks = _blocks(spark, rows)
    plain = set(
        map(tuple, pairs.candidate_pairs(blocks).select("id1", "id2").collect())
    )
    salted = set(
        map(
            tuple,
            pairs.candidate_pairs_salted(blocks, salt_buckets=4)
            .select("id1", "id2")
            .distinct()
            .collect(),
        )
    )
    assert plain == salted


def _cc(spark, edges, vertices=None):
    e = spark.createDataFrame(edges, ["src", "dst"])
    if vertices is None:
        vertices = sorted({v for p in edges for v in p})
    v = spark.createDataFrame([(x,) for x in vertices], ["record_id"])
    got = components.assign_components(v, e)
    return {r["record_id"]: r["component_id"] for r in got.collect()}


def test_cc_chain(spark):
    # long chain: worst case for naive propagation, fine for large/small-star
    edges = [(i, i + 1) for i in range(1, 20)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}


def test_cc_two_components_and_singleton(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)], vertices=[1, 2, 3, 10, 11, 99])
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == 10
    assert got[99] == 99  # singleton preserved


def test_cc_star_and_deterministic_min_label(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3), (5, 4)])
    assert set(got.values()) == {1}


def test_block_purging_drops_oversized(spark):
    """``blocking.block(max_block_size=5)`` against a Python oracle: a key
    over the cap is purged, a key exactly at the cap is kept, and a record
    repeating a key counts once toward its block's size."""
    rows = (
        [(i, "hot") for i in range(10)]
        + [(i, "edge") for i in range(20, 25)]
        + [(20, "edge")]  # duplicate membership: "edge" still has 5 records
        + [(100, "cold"), (101, "cold")]
    )
    df = spark.createDataFrame(rows, ["record_id", "k"])
    blocks = blocking.block(df, [BlockingStage("k", "exact")], max_block_size=5)
    got = {(r["record_id"], r["block_key"]) for r in blocks.collect()}

    members: dict[str, set[int]] = {}
    for rid, k in rows:
        members.setdefault(f"initial_block-k_exact:{k}", set()).add(rid)
    want = {(rid, key) for key, ids in members.items() if len(ids) <= 5 for rid in ids}
    assert got == want
    assert {key for _, key in got} == {"initial_block-k_exact:edge", "initial_block-k_exact:cold"}


def test_candidate_pairs_hash_partitions_probe_side(spark):
    """The probe side of the block self-join is hash-partitioned by record_id
    over the default parallelism, so pair generation runs on every core and
    a pair's rows from all its shared blocks land in one task."""
    blocks = _blocks(spark, [(i, f"k{i % 3}") for i in range(30)])
    plan = (
        pairs.candidate_pairs(blocks, broadcast_blocks=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = spark.sparkContext.defaultParallelism
    assert "BuildRight" in plan
    assert re.search(
        rf":- Exchange hashpartitioning\(record_id#\d+L?, {n}\), REPARTITION_BY_NUM", plan
    ), plan


def test_block_stage_api(spark):
    df = spark.createDataFrame([(1, "Apollo"), (2, "Apolo")], ["record_id", "title"])
    blocks = blocking.block(df, [BlockingStage("title", "phonetic_combination")])
    keys = {
        (r["record_id"], r["block_key"]) for r in blocks.collect()
    }
    # both share the 'a', 'ap', 'apo' prefixed keys
    shared = {k for i, k in keys if i == 1} & {k for i, k in keys if i == 2}
    assert len(shared) == 3


def test_cc_durable_checkpoint_resume(spark, tmp_path):
    """Durable CC: rounds land as parquet with _SUCCESS markers; a re-call
    with the same dir resumes from the last completed round WITHOUT the
    original edge input (proving recovery reads only the checkpoint)."""
    import os

    edges = [(i, i + 1) for i in range(1, 20)]  # chain: needs several rounds
    e = spark.createDataFrame(edges, ["src", "dst"])
    baseline = {
        (r["record_id"], r["component_id"])
        for r in components.connected_components(e).collect()
    }

    # full durable run matches the localCheckpoint run
    d_full = str(tmp_path / "full")
    got = {
        (r["record_id"], r["component_id"])
        for r in components.connected_components(e, checkpoint_dir=d_full).collect()
    }
    assert got == baseline
    rounds = sorted(p for p in os.listdir(d_full) if p.startswith("round_"))
    assert rounds[0] == "round_0000" and len(rounds) >= 2
    for p in rounds:
        assert os.path.exists(os.path.join(d_full, p, "_SUCCESS"))

    # interrupted run: only 1 star round, then "the driver dies"
    d = str(tmp_path / "resume")
    components.connected_components(e, max_iterations=1, checkpoint_dir=d)
    partial_rounds = sorted(p for p in os.listdir(d) if p.startswith("round_"))
    assert partial_rounds == ["round_0000", "round_0001"]

    # resume with an EMPTY edge input: the answer can only come from the
    # persisted rounds.  Result identical to the uninterrupted run, and the
    # loop continued numbering from the persisted round.
    empty = spark.createDataFrame([], "src long, dst long")
    resumed = {
        (r["record_id"], r["component_id"])
        for r in components.connected_components(
            empty, checkpoint_dir=d
        ).collect()
    }
    assert resumed == baseline
    resumed_rounds = sorted(p for p in os.listdir(d) if p.startswith("round_"))
    assert len(resumed_rounds) > 2 and resumed_rounds[2] == "round_0002"


def _cc_labels(spark, edges):
    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"], dtype="int64"), "src long, dst long"
    )
    return {
        (r["record_id"], r["component_id"])
        for r in components.connected_components(e).collect()
    }


def test_cc_driver_finish_equals_distributed_rounds(spark, monkeypatch):
    """Below the edge cap CC finishes on the driver; with the cap at 0 every
    round runs in Spark.  Both give the same min-id labels on random graphs
    over signed 64-bit ids, a chain and a 999-node clique (the hot-block
    shape); no edges give no labels.  With the cap between the clique's
    498,501 edges and its size after one star round, the large-graph path
    runs: distributed rounds first, then the driver finish."""
    rng = np.random.default_rng(7)
    graphs = []
    for _ in range(3):
        n = int(rng.integers(5, 200))
        ids = rng.choice(1 << 40, size=n, replace=False) - (1 << 39)
        m = int(rng.integers(1, 2 * n))
        graphs.append(
            [(int(ids[a]), int(ids[b])) for a, b in rng.integers(0, n, size=(m, 2))]
        )
    graphs.append([(i + 1, i) for i in range(300)])
    graphs.append(np.argwhere(np.triu(np.ones((999, 999), dtype=bool), 1)))

    assert _cc_labels(spark, []) == set()
    driver = [_cc_labels(spark, g) for g in graphs]
    monkeypatch.setattr(components, "DRIVER_FINISH_EDGES", 0)
    for g, got in zip(graphs, driver):
        assert got == _cc_labels(spark, g)
    assert driver[-2] == {(i, 0) for i in range(301)}
    assert driver[-1] == {(i, 0) for i in range(999)}

    calls = []
    for name in ("_large_star", "_driver_finish"):
        orig = getattr(components, name)
        monkeypatch.setattr(
            components, name, lambda e, orig=orig, name=name: calls.append(name) or orig(e)
        )
    monkeypatch.setattr(components, "DRIVER_FINISH_EDGES", 10_000)
    assert _cc_labels(spark, graphs[-1]) == driver[-1]
    assert calls[0] == "_large_star" and calls[-1] == "_driver_finish"
