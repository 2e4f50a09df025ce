"""Pairwise similarity scoring (F7, F10, F11) — batched, never all-pairs.

The reference computes an O(n²) cosine matrix per component
(``klsh_engine.py:129-146``); at web scale similarities are computed only on
candidate pairs (the meta-blocked edge table), as score columns:

* ``levenshtein`` — Spark builtin (JVM).
* ``jaro_winkler`` — the classic public algorithm as a numpy kernel over each
  Arrow batch (UTF-32 code-point matrices, greedy match vectorised across
  rows); ``jaro_winkler_py`` is the pure-Python reference it is
  bit-identical to.
* TF-IDF cosine — document frequencies via one aggregation, hashed term
  vectors per document, sparse dot on the pair join (all DataFrame ops);
  "fit" state (the DF table) is a small broadcast-able DataFrame.
* ``distance_to_similarity`` — F10: ``clamp(1 - d/margin, 0, 1)``
  (``train_pair_contrast.py:257-262``, margin=2 ``config.py:92``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# ---------------------------------------------------------------------------
# Jaro-Winkler (public algorithm; Winkler prefix boost p=0.1, max prefix 4)
# ---------------------------------------------------------------------------

def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    window = max(window, 0)
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(n1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0


def jaro_winkler_py(s1: str, s2: str, p: float = 0.1) -> float:
    j = _jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)


# Rows per kernel call, and padded cells (rows x longest string squared) per
# call.  Rows are sorted by length first, so a chunk is padded only to its own
# longest string; the window loop makes about that many cell comparisons, so
# the cell cap keeps one long string (a multi-KB <title>) from paying its
# square once for every row of a full chunk.
_JW_CHUNK_ROWS = 2048
_JW_CHUNK_CELLS = 1 << 23


def _jw_chunks(lengths: np.ndarray):
    """[start, end) chunks over ascending ``lengths``: at most
    ``_JW_CHUNK_ROWS`` rows and ``_JW_CHUNK_CELLS`` padded cells each, and
    at least one row."""
    start = 0
    while start < len(lengths):
        head = lengths[start : start + _JW_CHUNK_ROWS].astype(np.float64)
        cells = np.arange(1, len(head) + 1) * np.maximum(head, 1.0) ** 2
        end = start + max(1, int(np.searchsorted(cells, _JW_CHUNK_CELLS, side="right")))
        yield start, end
        start = end


def _code_points(strs: np.ndarray, width: int) -> np.ndarray:
    """(rows, width) UTF-32 code-point matrix of an object array of str,
    zero-padded.  Padding is indistinguishable from a real NUL, so callers
    mask by the Python ``len`` of each string, never by the zeros."""
    width = max(width, 1)
    return strs.astype(f"<U{width}").view(np.uint32).reshape(len(strs), width)


def _jaro_winkler_chunk(a: np.ndarray, b: np.ndarray, n1: np.ndarray,
                        n2: np.ndarray) -> np.ndarray:
    """``jaro_winkler_py`` over equal-length object arrays, vectorised across
    rows.  Every float operation runs in the reference's order, so the result
    is bit-identical; equal strings are set to 1.0 by the caller."""
    s1 = _code_points(a, int(n1.max()))
    s2 = _code_points(b, int(n2.max()))
    rows = len(a)
    window = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)
    wmax = int(window.max())
    m1 = np.zeros(s1.shape, dtype=bool)
    m2 = np.zeros(s2.shape, dtype=bool)
    # Greedy match: position i of s1 takes the first unmatched equal
    # character of s2 within the row's window, in increasing i.
    for i in range(int(n1.max())):
        lo, hi = max(0, i - wmax), min(s2.shape[1], i + wmax + 1)
        if lo >= hi:
            break
        j = np.arange(lo, hi)
        cand = (s2[:, lo:hi] == s1[:, i : i + 1]) & ~m2[:, lo:hi]
        cand &= (np.abs(j - i) <= window[:, None]) & (j < n2[:, None])
        cand &= (i < n1)[:, None]
        hit = np.flatnonzero(cand.any(axis=1))
        m2[hit, lo + cand[hit].argmax(axis=1)] = True
        m1[hit, i] = True
    matches = m1.sum(axis=1)
    # Matched characters in order, row-major: both sides have the same count
    # per row, so the k-th matched character of s1 lines up with s2's.
    r1, c1 = np.nonzero(m1)
    r2, c2 = np.nonzero(m2)
    half_t = np.bincount(r1[s1[r1, c1] != s2[r2, c2]], minlength=rows) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (matches / n1 + matches / n2 + (matches - half_t) / matches) / 3.0
    jaro[matches == 0] = 0.0
    k = min(4, s1.shape[1], s2.shape[1])
    same = (s1[:, :k] == s2[:, :k]) & (np.arange(k) < np.minimum(n1, n2)[:, None])
    prefix = np.cumprod(same, axis=1).sum(axis=1)
    return jaro + prefix * 0.1 * (1.0 - jaro)  # p = 0.1, the reference default


@pandas_udf(DoubleType())
def jaro_winkler_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """``jaro_winkler_py`` as a numpy kernel over the batch, bit-identical.
    Values are scored by their ``str``, so a null scores as ``"None"``."""
    a = s1.astype(str).to_numpy(dtype=object)
    b = s2.astype(str).to_numpy(dtype=object)
    n1 = np.fromiter(map(len, a), dtype=np.int64, count=len(a))
    n2 = np.fromiter(map(len, b), dtype=np.int64, count=len(b))
    out = np.ones(len(a))
    differ = np.flatnonzero(a != b)
    longest = np.maximum(n1, n2)[differ]
    rank = np.argsort(longest, kind="stable")
    order = differ[rank]
    for start, end in _jw_chunks(longest[rank]):
        idx = order[start:end]
        out[idx] = _jaro_winkler_chunk(a[idx], b[idx], n1[idx], n2[idx])
    return pd.Series(out, index=s1.index)


# ---------------------------------------------------------------------------
# Embedding / vector scoring (JVM-side)
# ---------------------------------------------------------------------------

# Element products are computed in float64 (cast BEFORE multiply): float32 ×
# float32 in float32 loses ~1e-7, which straddles the 4dp output grid a few
# times per thousand pairs and diverges from the float64 oracle (hit at
# sf0.1: 2/1135 near-dup cosines off by 1 ulp of the 4th decimal).


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def distance_to_similarity(dist: Column, margin: float = 2.0) -> Column:
    """F10: ``clamp(1 - d/margin, 0, 1)`` (margin 2 = reference config.py:92)."""
    return F.greatest(F.least(F.lit(1.0) - dist / F.lit(margin), F.lit(1.0)), F.lit(0.0))


# ---------------------------------------------------------------------------
# TF-IDF cosine over candidate pairs (F7 at scale)
# ---------------------------------------------------------------------------

def tfidf_vectors(
    docs: DataFrame,
    id_col: str = "record_id",
    text_col: str = "text",
    num_features: int | None = 1 << 18,
) -> DataFrame:
    """(id, term_key, tfidf_weight) long form, L2-normalized per document.

    Smooth idf (ln((1+N)/(1+df)) + 1, sklearn convention).  All hash/agg
    DataFrame ops — no Python.  The long form keeps vectors sparse; pair
    scoring is a join on term_key.  ``num_features`` hashes terms into that
    many buckets (the scale path: fixed-width ids, shorter join keys);
    ``None`` keeps raw term strings (exact, and oracle-reproducible in SQL).
    """
    terms = docs.select(
        F.col(id_col).alias("id"),
        # explicit class, not \s+: Java \s matches \x0B, DuckDB RE2 \s
        # doesn't — the term boundary must be engine-independent
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[ \t\n\r\f]+")
        ).alias("term"),
    ).where(F.col("term") != "")
    key = (
        F.pmod(F.xxhash64("term"), F.lit(num_features)).cast("string")
        if num_features
        else F.col("term")
    )
    tf = terms.groupBy("id", key.alias("term_key")).agg(F.count("*").alias("tf"))
    # N is a scalar subquery of the plan, so building the vectors runs no job
    n_docs = docs.select(F.countDistinct(id_col)).scalar()
    df_tbl = tf.groupBy("term_key").agg(F.countDistinct("id").alias("df"))
    idf = df_tbl.select(
        "term_key",
        (F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)).alias("idf"),
    )
    weighted = tf.join(idf, "term_key").select(
        "id", "term_key", (F.col("tf") * F.col("idf")).alias("w")
    )
    norms = weighted.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    return weighted.join(norms, "id").select(
        "id", "term_key", (F.col("w") / F.col("norm")).alias("w")
    )


def tfidf_cosine_pairs(
    pairs_df: DataFrame,
    vectors: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Add ``tfidf_cosine`` to a pair table via sparse-vector join-aggregate.

    The pair table is checkpointed: it is referenced by the dot aggregation
    AND the final left join, and is typically an expensive
    blocking→weights→prune chain."""
    pairs_df = pairs_df.localCheckpoint(eager=False)
    v1 = vectors.select(F.col("id").alias(id1), "term_key", F.col("w").alias("w1"))
    v2 = vectors.select(F.col("id").alias(id2), "term_key", F.col("w").alias("w2"))
    dots = (
        pairs_df.select(id1, id2)
        .join(v1, id1)
        .join(v2, [id2, "term_key"])
        .groupBy(id1, id2)
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("tfidf_cosine"))
    )
    return pairs_df.join(dots, [id1, id2], "left").withColumn(
        "tfidf_cosine", F.coalesce(F.col("tfidf_cosine"), F.lit(0.0))
    )
