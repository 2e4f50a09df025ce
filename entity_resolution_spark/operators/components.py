"""Connected components over an edge DataFrame — iterative large-star/small-star.

Replaces the reference's in-memory ``nx.connected_components``
(``block_klsh/blocking/graph_visualization.py:49``) with the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): each round is two shuffles (a groupBy-min and
a self-join), converging in O(log n) rounds on any graph instead of O(diameter)
like naive label propagation.  Component id = min record id in the component —
deterministic across partitionings and parallelism levels.

Lineage from the loop is cut with ``localCheckpoint`` each round (on a real
cluster: ``checkpoint`` to the cluster FS / an Iceberg stage table — see
``plans/pipeline.py``); convergence is detected by an edge-set checksum, one
cheap aggregate per round.

Driver finish: the checksum also counts the edge set.  Once that count is at
most ``DRIVER_FINISH_EDGES`` — at the start, or after any round has shrunk a
large graph — the edges are collected with Arrow and labelled by a vectorised
numpy union-find, saving the remaining rounds' Spark jobs.  Labels are the
same "min reachable record id".

Singletons: the reference keeps every record that entered any block as its own
component (``graph_visualization.py:54-59``); ``assign_components`` takes the
full vertex set and left-anti joins to re-attach them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..storage import SUCCESS, latest


def _bidirectional(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v>u to min(N(u) ∪ {u})."""
    bidir = _bidirectional(edges)
    mins = (
        bidir.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
    )
    return (
        bidir.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, connect all to the min."""
    directed = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    joined = directed.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        joined.select("src", F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: overflow-free under ANSI mode at any edge count.
    row = edges.agg(
        F.count("*").alias("c"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


# Edge count at or below which CC finishes on the driver: 4M int64 pairs are
# 64 MB through Arrow.  Measured end to end at the cap on local[4] (shared
# 4-vCPU Intel Xeon VM, get_spark defaults): a clique took 6.1 s on the
# driver against 8.6 s of distributed rounds, a sparse random graph (2^22
# edges over 2^22 ids) 8.8 s against 371 s; the union-find alone took 0.7 s
# and 2.4 s.  The driver finish also won at 2^19, 2^20 and 2^21 edges.
DRIVER_FINISH_EDGES = 1 << 22


def _union_find_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, min reachable id) over an edge list, vectorised.

    Vertices are renumbered densely in id order, so the minimum dense index
    of a component is its minimum id.  Each round hooks every root onto the
    smaller root across each live edge (``np.minimum.at``), then
    pointer-jumps until every vertex points at its root; an edge is live
    while its ends have different roots.  ``parent[x] <= x`` always holds,
    so the component minimum is always a root, and the last root standing.
    """
    ids, dense = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = dense[: len(src)], dense[len(src) :]
    parent = np.arange(len(ids))
    while len(u):
        pu, pv = parent[u], parent[v]
        m = np.minimum(pu, pv)
        np.minimum.at(parent, pu, m)
        np.minimum.at(parent, pv, m)
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
        live = parent[u] != parent[v]
        u, v = u[live], v[live]
    return ids, ids[parent]


def _driver_finish(e: DataFrame) -> DataFrame:
    edges = e.toArrow()
    ids, labels = _union_find_labels(
        edges.column("src").to_numpy(), edges.column("dst").to_numpy()
    )
    return e.sparkSession.createDataFrame(
        pa.table({"record_id": ids, "component_id": labels})
    )


def _persist_round(e: DataFrame, checkpoint_dir: str, i: int) -> DataFrame:
    """Write round ``i``'s edge set durably and return the re-read — cuts
    lineage like ``localCheckpoint`` but survives executor (and driver)
    loss; the parquet ``_SUCCESS`` marker makes completion atomic."""
    path = f"{checkpoint_dir}/round_{i:04d}"
    e.write.mode("overwrite").parquet(path)
    return e.sparkSession.read.parquet(path)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(record_id, component_id) for every vertex incident to an edge.

    ``component_id`` is the minimum record id reachable from the vertex.
    Before each star round an edge set of at most ``DRIVER_FINISH_EDGES``
    edges is finished on the driver instead (module docstring).

    ``checkpoint_dir`` switches per-round lineage cuts from
    ``localCheckpoint`` (executor-memory blocks — lost with an executor) to
    durable parquet rounds: each completed round lands as
    ``round_{i:04d}/`` with an atomic ``_SUCCESS`` marker, and a re-call
    with the same directory RESUMES from the latest completed round instead
    of recomputing the input chain — the recovery story a days-long CC run
    over a 10^12-edge graph needs.  Convergence still uses the bit_xor
    checksum, recomputed from the loaded round on resume.  The durable path
    runs every round distributed, so each round it records is on storage.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    start_round = 1
    if checkpoint_dir:
        done = latest(spark, checkpoint_dir, "round_", SUCCESS)
        if done is not None:
            start_round = done + 1
            e = spark.read.parquet(f"{checkpoint_dir}/round_{done:04d}")
        else:
            e = _persist_round(e, checkpoint_dir, 0)
    else:
        e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    for i in range(start_round, start_round + max_iterations):
        if not checkpoint_dir and prev[0] <= DRIVER_FINISH_EDGES:
            return _driver_finish(e)
        e = _small_star(_large_star(e))
        if checkpoint_dir:
            e = _persist_round(e, checkpoint_dir, i)
        else:
            e = e.localCheckpoint(eager=True)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    # Converged: every edge is (member, root). Roots map to themselves.
    members = e.select(F.col("src").alias("record_id"), F.col("dst").alias("component_id"))
    roots = e.select(F.col("dst").alias("record_id")).distinct().withColumn(
        "component_id", F.col("record_id")
    )
    return members.union(roots).distinct()


def assign_components(
    vertices: DataFrame, edges: DataFrame, id_col: str = "record_id", **kw
) -> DataFrame:
    """Full assignment incl. singletons: every vertex gets a component_id.

    Vertices not incident to any surviving edge become their own component,
    mirroring the reference's singleton retention (``block_tree.py:208`` +
    ``graph_visualization.py:54-59``).
    """
    cc = connected_components(edges, **kw)
    v = vertices.select(F.col(id_col).cast("long").alias("record_id")).distinct()
    return (
        v.join(cc, "record_id", "left")
        .select(
            "record_id",
            F.coalesce(F.col("component_id"), F.col("record_id")).alias("component_id"),
        )
    )
