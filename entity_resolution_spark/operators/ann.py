"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force baseline: broadcast the (small) query set,
  JVM-side dot products via ``F.aggregate``/``F.zip_with`` (no Python), window
  top-k.  Exact; linear scan of the corpus — the right baseline and the
  fallback when recall must be 1.0.
* ``lsh_topk`` — scale path: random-hyperplane (SRP) LSH bucketing.  Each
  vector hashes to a ``n_planes``-bit signature per table; candidates are
  corpus vectors sharing a bucket with the query in any table; exact cosine is
  then computed only on candidates.  Hyperplanes are generated deterministically
  (hash-based, seed 42) so results are reproducible across runs/cluster sizes.

At 100 TB the corpus side stays partitioned; only signatures (8-64 bytes/row)
shuffle, and the exact-rerank join touches candidate rows alone.
* ``ivf_topk`` — KMeans coarse quantizer → inverted lists → probe + rerank.
* ``pq_topk`` — product quantization: the corpus compresses to ``m``-byte
  codes read in one ``mapInPandas`` ADC scan (per-query lookup tables
  broadcast), two-phase exact top-C candidate selection, exact rerank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.similarity import cosine


def _exact_topk(cands: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """Exact-cosine top-k of (query_id, neighbor_id, qv, cv) candidate rows:
    (query_id, neighbor_id, cosine).

    Rounds BEFORE ranking: last-ulp float differences between engines must
    not decide the k-th rank (same discipline as
    entrypoints._emb_pairs_scored); ties break on neighbor_id.  Output
    rounds the RAW value, never the 6dp-rounded one: double-rounding (raw →
    6dp → 4dp) parks ~1% of values exactly on 4dp midpoints, where engines
    disagree on the half-way direction (hit at sf0.1).
    """
    sims = cands.select(
        "query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("_raw")
    ).withColumn("sim", F.round("_raw", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    out = sims.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    if round_to is not None:
        return out.select(
            "query_id", "neighbor_id", F.round("_raw", round_to).alias("cosine")
        )
    return out.select("query_id", "neighbor_id", F.col("sim").alias("cosine"))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors: (query_id, neighbor_id, cosine).

    The query side is broadcast (top-k queries are small by construction);
    the corpus is scanned once, no shuffle of the vectors themselves — only
    the (query_id, neighbor_id, sim) triples go through the top-k window.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return _exact_topk(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k, round_to
    )


def srp_plane_weight(seed: int, table: int, plane: int, i: int) -> float:
    """Deterministic hyperplane coordinate in [-1, 1]: low-60-bit md5 of
    ``"{seed}_{table}_{plane}_{i}"`` mapped through ``% 10007 / 5003 − 1``.

    Computed once on the driver (plane weights are data-independent
    constants), embedded as literals in the Spark plan — and reproducible in
    the DuckDB oracle with the same md5 expression, so SRP bucket assignment
    is bit-identical across engines.
    """
    import hashlib

    h = int(hashlib.md5(f"{seed}_{table}_{plane}_{i}".encode()).hexdigest()[:15], 16)
    return (h % 10007) / 5003.0 - 1.0


def _srp_signature(vec_col, dim: int, n_planes: int, table: int, seed: int = 42):
    """Deterministic random-hyperplane signature as a JVM expression.

    Plane weights are md5-derived literal constants (``srp_plane_weight``) —
    no RNG state, no per-row hashing, identical on every executor.
    """
    bits = []
    for p in range(n_planes):
        plane = F.array(
            *[F.lit(srp_plane_weight(seed, table, p, i)) for i in range(dim)]
        )
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda v, w: v * w),
            F.lit(0.0).cast("double"),
            lambda a, v: a + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig * 2 + b
    return sig


def ivf_train_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 10_000,
    seed: int = 42,
):
    """Coarse quantizer for IVF: deterministic bounded sample (ordered by
    ``xxhash64(id)``, so partition-count-invariant) → driver-side seeded
    KMeans (``ml.kmeans``).  The sample cap makes this O(sample·dim) on the
    driver regardless of corpus size — the standard IVF training shape."""
    from ..ml.kmeans import kmeans_fit_predict

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(X) == 0:
        raise ValueError("empty corpus")
    k = min(n_lists, len(X))
    labels, _ = kmeans_fit_predict(X, k, seed=seed, n_init=4)
    centers = np.vstack(
        [X[labels == c].mean(axis=0) if (labels == c).any() else X[0] for c in range(k)]
    )
    return centers


def ivf_fixed_centroids(
    n_lists: int, dim: int, scale: float = 0.25, seed: int = 11
) -> np.ndarray:
    """Data-independent IVF coarse centroids: seeded-uniform in
    ``[-scale, scale]``, rounded to 6dp — the IVF analogue of
    ``pq_fixed_codebooks``.  Used by the oracle-checked ``ann_ivf_topk``
    driver query: the same 6dp doubles are inlined as SQL literals on the
    DuckDB side, so list assignment is bit-identical across engines.
    (Trained centroids — ``ivf_train_centroids`` — partition the corpus
    better but depend on the data, which a static SQL oracle cannot.)"""
    rs = np.random.RandomState(seed)
    return np.round(rs.uniform(-scale, scale, (n_lists, dim)), 6)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    parity: bool = False,
) -> DataFrame:
    """IVF ANN: KMeans coarse quantizer → inverted lists → probe the
    ``n_probe`` nearest lists per query → exact cosine rerank.

    The corpus is assigned to lists with one Arrow-batched pandas UDF pass
    (centroids broadcast, vectorized argmin) and NEVER shuffled by vector —
    only (query, candidate) id pairs from the probed lists move.  With
    ``n_probe == n_lists`` the result equals the brute-force baseline.

    ``parity=True`` is the cross-engine-checkable arithmetic mode (same
    recipe as ``pq_topk``): inputs cast float32→float64 (exact), every
    squared distance that feeds an argmin (corpus→list assignment) or a
    rank cut (query probe selection) is rounded to 6dp first with ties
    resolved to the lowest list id, so a SQL oracle computing the same
    rounded expanded-L2² lands on the same lists.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, n_lists, id_col=id_col, vec_col=vec_col
        )
    spark = corpus.sparkSession
    # Broadcast lifetime: the returned DataFrame is lazy, so the centroid
    # broadcast must outlive this call — it is released by the context
    # cleaner once the plan's UDF references are garbage-collected (n_lists
    # × dim float64 ≈ KBs; callers looping over many ivf_topk plans in one
    # eternal session should materialize then bc.unpersist() themselves).
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    probe = min(n_probe, len(centroids))

    def _d2(Xb: np.ndarray) -> np.ndarray:
        C = bc.value
        d2 = (
            (Xb**2).sum(axis=1, keepdims=True)
            - 2.0 * Xb @ C.T
            + (C**2).sum(axis=1)[None, :]
        )
        if parity:
            d2 = np.round(d2, 6)  # round-before-argmin/rank (see pq_topk)
        return d2

    @pandas_udf(IntegerType())
    def nearest_list(v: pd.Series) -> pd.Series:
        Xb = np.stack(v.to_numpy()).astype(np.float64)
        # argmin ties → lowest list id, matching the oracle's (d2, lid) min
        return pd.Series(_d2(Xb).argmin(axis=1).astype("int32"))

    @pandas_udf(ArrayType(IntegerType()))
    def probe_lists(v: pd.Series) -> pd.Series:
        Xb = np.stack(v.to_numpy()).astype(np.float64)
        d2 = _d2(Xb)
        # stable sort: equal distances keep ascending list id, matching the
        # oracle's ORDER BY d2, lid
        idx = np.argsort(d2, axis=1, kind="stable")[:, :probe]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("list_id", nearest_list("cv"))
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("list_id", F.explode(probe_lists("qv")))
    )
    cands = (
        q.join(c, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
    )
    return _exact_topk(cands, k, round_to)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate top-k: SRP-LSH candidate generation + exact rerank."""
    if dim is None:
        first = corpus.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if first is None:  # empty / all-null corpus → empty result, same schema
            return corpus.sparkSession.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double"
            )
        dim = len(first[0])
    # one exploded (tbl, bucket) struct array per row: a single pass over the
    # signature computation instead of one union branch per table
    band_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _srp_signature(F.col(vec_col), dim, n_planes, t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(band_structs).alias("bb"),
    ).select("query_id", "qv", F.col("bb.tbl").alias("tbl"), F.col("bb.bucket").alias("bucket"))
    cs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.explode(band_structs).alias("bb"),
    ).select("neighbor_id", "cv", F.col("bb.tbl").alias("tbl"), F.col("bb.bucket").alias("bucket"))
    cands = (
        qs.join(cs, ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv")
        .distinct()
    )
    return _exact_topk(cands, k, round_to)


# ---------------------------------------------------------------------------
# Product quantization (compressed-domain ANN)
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 10_000,
    seed: int = 42,
) -> np.ndarray:
    """Train PQ codebooks: split the (L2-normalized) vector into ``m``
    subspaces and run seeded KMeans with ``ksub`` centroids in each.

    Same bounded-deterministic-sample shape as ``ivf_train_centroids``:
    O(sample * dim) driver-side regardless of corpus size.  Returns
    ``(m, ksub, dim//m)`` float64 codebooks.  Vectors are L2-normalized
    before training so code distances order like cosine distances.
    """
    from ..ml.kmeans import kmeans_fit_predict

    rows = (
        corpus.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
        .orderBy("h")
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(X) == 0:
        raise ValueError("empty corpus")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        k = min(ksub, len(sub))
        labels, _ = kmeans_fit_predict(sub, k, seed=seed + j, n_init=2)
        centers = np.vstack(
            [
                sub[labels == c].mean(axis=0) if (labels == c).any() else sub[0]
                for c in range(k)
            ]
        )
        if k < ksub:  # degenerate tiny corpus: pad with the first center
            centers = np.vstack([centers, np.repeat(centers[:1], ksub - k, 0)])
        books[j] = centers
    return books


def pq_fixed_codebooks(
    m: int, ksub: int, dsub: int, scale: float = 0.25, seed: int = 7
) -> np.ndarray:
    """Data-independent PQ codebooks: seeded-uniform in ``[-scale, scale]``,
    rounded to 6dp.  Used by the oracle-checked ``ann_pq_topk`` driver query
    — the same constants are inlined as SQL literals on the DuckDB side, so
    both engines quantize against bit-identical doubles at any SF.  (Trained
    codebooks — ``pq_train`` — give better codes but depend on the corpus,
    which a static SQL oracle cannot.)"""
    rs = np.random.RandomState(seed)
    return np.round(rs.uniform(-scale, scale, (m, ksub, dsub)), 6)


# Most query vectors ``pq_topk`` collects.  Each ADC scan batch holds an
# (n_queries x Arrow batch) float64 distance matrix: 82 MB per task at 1,024
# queries and 10,000-row batches.  ``ann_pq_topk`` collects 10 at every SF.
PQ_MAX_QUERIES = 1024


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    parity: bool = False,
) -> DataFrame:
    """PQ-ADC ANN: encode the corpus to ``m``-byte codes, scan codes with
    per-query ADC lookup tables, keep the best ``rerank`` candidates per
    query, then exact-cosine rerank (round-before-rank at 6dp).

    ``parity=True`` is the cross-engine-checkable arithmetic mode used by
    the ``ann_pq_topk`` driver query: vectors enter raw (float32→float64
    cast is exact; no L2 normalization, so approx ordering is by L2
    distance — the exact-cosine rerank is unchanged), and every quantity
    that feeds an argmin or a rank cut (subspace distances, ADC lookup
    entries, summed approx distances) is rounded to 6dp first, so a SQL
    oracle summing the same rounded literals in a different accumulation
    order lands on the same ranking.

    Scale shape (the IVF-PQ recipe without the coarse stage):

    * the corpus is read ONCE to produce codes (Arrow-batched UDF); full
      vectors never shuffle — the codes table is ``m`` bytes + id per row;
    * the query side (at most ``PQ_MAX_QUERIES`` rows, else ``ValueError``)
      is collected and shipped as a broadcast of per-query LUTs
      (``n_q x m x ksub`` float64);
    * ``mapInPandas`` over the codes emits each batch's top-``rerank`` per
      query — two-phase top-k (per-batch then global) is EXACT for the
      (dist, id) ordering, so the candidate set is partition-invariant;
    * only ``n_q x rerank`` id pairs reach the exact-rerank join.

    With ``rerank >= |corpus|`` the result equals ``cosine_topk`` exactly.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    if codebooks is None:
        codebooks = pq_train(
            corpus, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col
        )
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m_, ksub_, dsub = books.shape
    spark = corpus.sparkSession
    bc_books = spark.sparkContext.broadcast(books)

    @pandas_udf(ArrayType(IntegerType()))
    def encode(v: pd.Series) -> pd.Series:
        B = bc_books.value
        Xb = np.stack(v.to_numpy()).astype(np.float64)
        if not parity:
            Xb = Xb / np.maximum(np.linalg.norm(Xb, axis=1, keepdims=True), 1e-12)
        mm, kk, dd = B.shape
        codes = np.empty((len(Xb), mm), dtype=np.int32)
        for j in range(mm):
            sub = Xb[:, j * dd : (j + 1) * dd]
            d2 = (
                (sub**2).sum(axis=1, keepdims=True)
                - 2.0 * sub @ B[j].T
                + (B[j] ** 2).sum(axis=1)[None, :]
            )
            if parity:
                d2 = np.round(d2, 6)  # round-before-argmin; ties → lowest c
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series([c.tolist() for c in codes])

    codes_df = corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )

    qrows = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .limit(PQ_MAX_QUERIES + 1)
        .collect()
    )
    if len(qrows) > PQ_MAX_QUERIES:
        raise ValueError(
            f"more than PQ_MAX_QUERIES={PQ_MAX_QUERIES} query vectors; pq_topk "
            "collects the queries and scans every corpus batch against all of "
            "them — split the queries into batches of at most that many"
        )
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double"
        )
    q_ids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    if not parity:
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # ADC LUT: luts[q, j, c] = ||Q[q] subvec j - codebook[j][c]||^2 term;
    # constant ||q||^2 per query drops out of the per-query ranking
    luts = np.empty((len(Q), m_, ksub_), dtype=np.float64)
    for j in range(m_):
        qs = Q[:, j * dsub : (j + 1) * dsub]
        luts[:, j, :] = (
            -2.0 * qs @ books[j].T + (books[j] ** 2).sum(axis=1)[None, :]
        )
    if parity:
        luts = np.round(luts, 6)  # the oracle sums the same 6dp entries
    bc_luts = spark.sparkContext.broadcast((q_ids, luts))

    out_schema = "query_id long, neighbor_id long, adist double"

    def scan(batches):
        qid, L = bc_luts.value
        nq, mm, kk = L.shape
        for pdf in batches:
            ids = pdf["neighbor_id"].to_numpy()
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            # approx distance: sum_j L[q, j, code_j]  -> (nq, B)
            D = np.zeros((nq, len(ids)), dtype=np.float64)
            for j in range(mm):
                D += L[:, j, :][:, C[:, j]]
            if parity:
                D = np.round(D, 6)  # round-before-rank for the cut below
            take = min(rerank, len(ids))
            rows = {"query_id": [], "neighbor_id": [], "adist": []}
            for qi in range(nq):
                # exclude the query's own row HERE: if self merely occupied a
                # top-`take` slot and were filtered later, the batch would
                # contribute one candidate fewer than batches without self —
                # making the two-phase result depend on partitioning
                d = np.where(ids == qid[qi], np.inf, D[qi])
                # (dist, id) lexsort so boundary ties resolve identically in
                # every batch — keeps the two-phase top-k partition-invariant
                sel = np.lexsort((ids, d))[:take]
                sel = sel[np.isfinite(d[sel])]
                rows["query_id"].extend([qid[qi]] * len(sel))
                rows["neighbor_id"].extend(ids[sel].tolist())
                rows["adist"].extend(d[sel].tolist())
            yield pd.DataFrame(rows)

    approx = codes_df.mapInPandas(scan, schema=out_schema).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    wA = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    cand_ids = (
        approx.withColumn("arn", F.row_number().over(wA))
        .where(F.col("arn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cdf = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return _exact_topk(
        cand_ids.join(F.broadcast(qdf), "query_id").join(cdf, "neighbor_id"), k, round_to
    )
