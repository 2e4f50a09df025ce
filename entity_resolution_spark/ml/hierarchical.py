"""Agglomerative hierarchical clustering (ward linkage) — numpy.

Reference: ``siameselike_encoder/*/hierarchical_clustering/hierarch_clust.py:24-41``
uses sklearn ``AgglomerativeClustering(distance_threshold=0.2, linkage='ward')``
on the (small) collected inference embeddings.  This is the same public
algorithm via the Lance-Williams recurrence; it runs driver-side on collected
embeddings — the correct Spark shape for a final small-data step (the at-scale
alternative is transitive closure over thresholded pairs, operators/components).
"""

from __future__ import annotations

import numpy as np


def ward_labels(X: np.ndarray, distance_threshold: float = 0.2) -> np.ndarray:
    """Cluster labels; merging stops when the next ward distance exceeds the
    threshold (sklearn semantics: ward distance = sqrt(2·ESS increase))."""
    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    # active clusters: id -> (size, centroid)
    sizes = {i: 1 for i in range(n)}
    cents = {i: X[i].copy() for i in range(n)}
    members: dict[int, list[int]] = {i: [i] for i in range(n)}
    next_id = n

    def ward_dist(a: int, b: int) -> float:
        na, nb = sizes[a], sizes[b]
        d2 = ((cents[a] - cents[b]) ** 2).sum()
        return np.sqrt(2.0 * na * nb / (na + nb) * d2)

    while len(sizes) > 1:
        keys = sorted(sizes)
        best = None
        for i, a in enumerate(keys):
            for b in keys[i + 1 :]:
                d = ward_dist(a, b)
                if best is None or d < best[0] - 1e-15:
                    best = (d, a, b)
        d, a, b = best
        if d > distance_threshold:
            break
        na, nb = sizes[a], sizes[b]
        cents[next_id] = (na * cents[a] + nb * cents[b]) / (na + nb)
        sizes[next_id] = na + nb
        members[next_id] = members[a] + members[b]
        for k in (a, b):
            del sizes[k], cents[k], members[k]
        next_id += 1

    labels = np.empty(n, dtype=int)
    for lbl, cid in enumerate(sorted(sizes)):
        for m in members[cid]:
            labels[m] = lbl
    return labels


# Most embeddings ``cluster_embeddings_df`` collects.  ``ward_labels`` is
# O(n^3) pure Python: when every merge is under the threshold it takes about
# 1 s at 100 rows, 7.5 s at 200, 16 s at 256 and 26 s at 300 (one core of a
# shared 4-vCPU Intel Xeon VM), so the cap bounds the driver step to ~16 s.
WARD_MAX_ROWS = 256


def cluster_embeddings_df(df, distance_threshold: float = 0.2,
                          id_col: str = "record_id", vec_col: str = "embedding"):
    """Collect (small) embeddings, ward-cluster, return (id, cluster) DataFrame.

    The collect is a DRIVER-SIDE contract: it fetches ``WARD_MAX_ROWS + 1``
    rows and fails loudly past the cap instead of stalling the driver (the
    same contract as ``sampling.collect_strata``).
    """
    rows = df.select(id_col, vec_col).limit(WARD_MAX_ROWS + 1).collect()
    if len(rows) > WARD_MAX_ROWS:
        raise ValueError(
            f"more than WARD_MAX_ROWS={WARD_MAX_ROWS} embeddings; ward "
            "clustering runs on the driver — at this scale threshold the pair "
            "similarities and use operators.components"
        )
    ids = [r[id_col] for r in rows]
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    labels = ward_labels(X, distance_threshold)
    spark = df.sparkSession
    return spark.createDataFrame(
        list(zip(ids, (int(l) for l in labels))), f"{id_col} long, cluster int"
    )
