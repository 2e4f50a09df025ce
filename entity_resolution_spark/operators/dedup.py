"""Deduplication operators for large-scale training-data pipelines.

All key computations are JVM-side expressions (md5/xxhash/bit ops); no Python
in any hot path.  Every operator returns long-form DataFrames and follows the
same shape: per-doc signature table → bucket join → candidate pairs →
(optionally) exact re-check.

* exact: hash-groupBy on the normalized-content fingerprint.
* MinHash: per-doc min over token hashes for H seeded hash functions; LSH
  banding (B bands × R rows) for candidate pairs; Jaccard estimate =
  fraction of agreeing components.
* SimHash: 64-bit signed-bit-sum sketch of token hashes; near-dup candidates
  via Hamming distance ≤ k over band buckets (4×16-bit bands ⇒ guaranteed
  recall for distance ≤ 3).
* n-gram Jaccard: character-shingle (default 3-gram) exact Jaccard on
  candidate pairs.
* embedding near-dup: cosine ≥ threshold via SRP-LSH buckets + exact rerank
  (reuses ``ann``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint, tokens


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tok) distinct non-empty whitespace tokens.  An explicit class,
    not \\s+: Java \\s matches \\x0B, DuckDB RE2 \\s doesn't — the token
    boundary must be engine-independent."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), r"[ \t\n\r\f]+")).alias("tok"),
    ).where(F.col("tok") != "").distinct()


def _md5_long(col: Column) -> Column:
    """Deterministic 60-bit hash shared with the DuckDB oracle dialect."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def char_shingles(docs: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct character n-grams — JVM-side via sequence+explode."""
    s = F.col(text_col)
    return (
        docs.select(F.col(id_col).alias("id"), s.alias("_t"))
        .select(
            "id",
            "_t",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - (n - 1), F.lit(1)))
            ).alias("pos"),
        )
        .select("id", F.substring(F.col("_t"), F.col("pos"), F.lit(n)).alias("shingle"))
        .where(F.length("shingle") > 0)
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fp, dup_count, keep_doc_id) groups; dup_count>1 rows are duplicates."""
    return (
        docs.select(F.col(id_col), md5_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("keep_doc_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle: int | None = None,
) -> DataFrame:
    """(id, h0..h{H-1}) MinHash over tokens (or char shingles if ``shingle``)."""
    units = (
        char_shingles(docs, id_col, text_col, shingle)
        .withColumnRenamed("shingle", "tok")
        if shingle
        else _tokens(docs, id_col, text_col)
    )
    return _minhash_agg(units, id_col, num_hashes)


def _minhash_agg(units: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, tok) units → (id_col, h0..h{H-1}) per-id min of H seeded hashes."""
    aggs = [
        F.min(_md5_long(F.concat(F.lit(f"{i}_"), F.col("tok")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return units.groupBy("id").agg(*aggs).withColumnRenamed("id", id_col)


def minhash_band_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding join → distinct candidate (id1, id2) pairs.

    Banding is a single ``explode`` of (band, bucket) structs from one
    signature row — one pass over the signature aggregation instead of one
    union branch per band (a per-band union re-evaluates the upstream
    signature subplan ``bands``× per join side).

    The signature table is checkpointed before the self-join: Spark does not
    reuse the build subplan across the two sides of a broadcast self-join,
    so without it the (tokenize + H×md5 min-agg) signature computation runs
    twice.  The signature table is 1 row/doc with H longs — the cheapest
    point in the pipeline to cut lineage.

    ``max_bucket_size`` purges buckets larger than the cap before the
    self-join — the same skew guard as block purging (G1): a bucket of b
    docs emits b(b-1)/2 pairs, so one template-heavy bucket can dominate
    the whole candidate volume (measured at sf0.1: the largest of 240
    buckets holds 3184 of 5000 docs ⇒ ~5M of the 8.8M distinct pairs).
    Pairs inside a purged bucket still surface through any other band they
    agree on.  Default None (exact LSH semantics — the oracle-checked
    path); set at corpus scale where a near-universal bucket means "shared
    boilerplate", not "near-duplicate".
    """
    signatures = signatures.localCheckpoint(eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col).alias("id"), F.explode(band_structs).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("_bsz"))
        banded = (
            banded.join(sizes, ["band", "bucket"])
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )


def minhash_jaccard_estimate(
    signatures: DataFrame, pairs_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """Jaccard ≈ fraction of agreeing signature components per pair."""
    s1 = signatures.select(
        F.col(id_col).alias("id1"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    s2 = signatures.select(
        F.col(id_col).alias("id2"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        pairs_df.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", (agree / F.lit(float(num_hashes))).alias("jaccard_est"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(id, simhash) — per-bit signed sum of token hashes, sign → bit.

    Pure JVM: token hash once, then per-bit ±1 contribution aggregated; the
    64 per-bit sums reduce in one groupBy (map-side combinable).

    The token hash is the md5-derived 60-bit ``_md5_long`` (not xxhash64) so
    the DuckDB oracle can reproduce the signature bit-for-bit; bits 60-63 are
    therefore always 0 (sum = −n_tokens), leaving 60 informative bits.
    """
    tok = _tokens(docs, id_col, text_col).withColumn("h", _md5_long(F.col("tok")))
    sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            * F.lit(2 ** b).cast("long")
            if b < 63
            # bit 63 would overflow 2^63 as a positive literal; use shiftleft
            else F.shiftleft(
                F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
                63,
            )
        )
    return sums.select(F.col("id").alias(id_col), sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(max_hamming: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) per band: ``max_hamming + 1`` contiguous chunks of the
    signature, so by pigeonhole any pair with Hamming ≤ max_hamming agrees
    exactly on ≥ 1 band — guaranteed recall for the stated contract (the old
    fixed 4×16 banding only guaranteed Hamming ≤ 3)."""
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    if base == 0:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than {bits} bits")
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_near_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidates via band buckets (``max_hamming + 1`` contiguous bands ⇒
    pigeonhole guarantees any pair with Hamming ≤ max_hamming shares ≥ 1
    band), then exact Hamming filter.

    The 1-row/doc signature table is checkpointed so the 64 per-bit sums
    aren't recomputed on both sides of the self-join.
    ``max_bucket_size`` purges over-cap band buckets before the self-join
    (same boilerplate-skew guard as ``minhash_band_pairs``; purging trades
    the pigeonhole recall guarantee inside purged buckets for bounded
    candidate volume — default None keeps exact semantics)."""
    signatures = signatures.localCheckpoint(eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("bucket"),
            )
            for b, (off, w) in enumerate(simhash_bands(max_hamming))
        ]
    )
    banded = signatures.select(
        F.col(id_col).alias("id"), F.col("simhash"), F.explode(band_structs).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bucket").agg(F.count("*").alias("_bsz"))
        banded = (
            banded.join(sizes, ["band", "bucket"])
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            hamming64(F.col("l.simhash"), F.col("r.simhash")).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# set Jaccard (tokens, character n-grams)
# ---------------------------------------------------------------------------

def set_jaccard(pairs_df: DataFrame, units: DataFrame, out_col: str) -> DataFrame:
    """(id1, id2, out_col) exact set Jaccard |A∩B| / |A∪B| for each pair,
    where a record's set is its rows of the distinct ``(id, unit)`` table
    ``units`` (second column = the unit).  A pair sharing no unit scores 0;
    a record with no unit drops out of the inner size joins."""
    unit = units.columns[1]
    sizes = units.groupBy("id").agg(F.count("*").alias("n_units"))
    u1 = units.select(F.col("id").alias("id1"), unit)
    u2 = units.select(F.col("id").alias("id2"), unit)
    inter = (
        pairs_df.join(u1, "id1")
        .join(u2, ["id2", unit])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("isect"))
    )
    z1 = sizes.select(F.col("id").alias("id1"), F.col("n_units").alias("n1"))
    z2 = sizes.select(F.col("id").alias("id2"), F.col("n_units").alias("n2"))
    return (
        pairs_df.join(inter, ["id1", "id2"], "left")
        .join(z1, "id1")
        .join(z2, "id2")
        .select(
            "id1",
            "id2",
            (
                F.coalesce("isect", F.lit(0))
                / (F.col("n1") + F.col("n2") - F.coalesce("isect", F.lit(0)))
            ).alias(out_col),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact character-n-gram Jaccard for the given candidate pairs.

    The pair table (small rows, typically an expensive blocking→prune chain)
    is checkpointed — it feeds the intersection AND the final join.  The
    shingle table feeds THREE consumers (sizes + both sides of the
    intersection join); materializing it once via localCheckpoint beats
    re-running the position-explode per consumer by ~18% (A/B at sf0.1
    local[32], round 3: 15.3-15.5 s vs 18.5-18.6 s — reversing round 2's
    no-materialize choice, which round 2's own bench regression flagged).
    At cluster scale the same trade holds while the shingle table fits the
    block managers' memory+disk tier."""
    pairs_df = pairs_df.localCheckpoint(eager=False)
    sh = char_shingles(docs, id_col, text_col, n).localCheckpoint(eager=False)
    out = set_jaccard(pairs_df, sh, "ngram_jaccard")
    if round_to is not None:
        out = out.withColumn("ngram_jaccard", F.round("ngram_jaccard", round_to))
    return out


def dedup_keep_list(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """End-to-end corpus dedup: (id, keep_id, is_kept).

    The standard web-scale recipe: exact dedup by normalized fingerprint,
    MinHash-LSH candidate pairs, exact token-Jaccard verification at the
    threshold, transitive closure of verified near-dup pairs (a near-dups b,
    b near-dups c ⇒ one group), keep the min id per group.  Every step is a
    DataFrame op; the closure reuses the large-star/small-star operator.

    Two round-3 plan changes, A/B-measured at sf0.1 local[32] (two
    interleaved runs each; previous shape 57.7/72.1 s → this one
    24.7/37.3 s, identical output):

    * the token table is built ONCE (checkpointed) and feeds both the
      MinHash signature aggregation and the verification step — the old
      shape tokenized the corpus twice;
    * Jaccard verification joins each candidate pair against per-doc token
      *sets* and intersects JVM-side (``size(array_intersect(...))``)
      instead of exploding pairs×tokens into a long-form join — that
      intermediate was ~avg_doc_tokens × n_candidates rows (hundreds of
      millions at sf0.1) through a shuffle; the set-join shuffles only
      n_candidates rows carrying bounded per-doc arrays.  Same bytes moved
      at worst, ~200× fewer rows; per-doc arrays are bounded by document
      length, which web corpora cap far below Arrow/codegen limits.
    """
    from .components import assign_components

    ids = docs.select(F.col(id_col).alias("id")).distinct()
    # exact: same fingerprint → edge to group min (cheap, no pair explosion)
    fp = docs.select(
        F.col(id_col).alias("id"), md5_fingerprint(F.col(text_col)).alias("fp")
    ).localCheckpoint(eager=False)  # referenced by the group-min agg AND the edge join
    fp_min = fp.groupBy("fp").agg(F.min("id").alias("keep"))
    exact_edges = (
        fp.join(fp_min, "fp")
        .where(F.col("id") != F.col("keep"))
        .select(F.col("id").alias("id1"), F.col("keep").alias("id2"))
    )
    # near: minhash bands → candidates → exact jaccard ≥ threshold
    tok = _tokens(docs, id_col, text_col).localCheckpoint(eager=False)
    sig = _minhash_agg(tok, id_col, num_hashes)
    cands = minhash_band_pairs(sig, id_col, bands, num_hashes // bands)
    # length prefilter: J(a,b) <= min(|a|,|b|)/max(|a|,|b|), so pairs whose
    # token-set sizes differ by more than the threshold ratio cannot pass
    # verification.  The sizes table is one slim row per doc (equi-joins
    # that AQE broadcasts at test scale and shuffles at corpus scale);
    # filtering keeps 37% of candidates (measured, sf0.1) out of the
    # array-carrying verification join.  Wall-clock NEUTRAL at sf0.1
    # (4-rep A/B ≈20-21 s both ways — candidate generation dominates
    # there); the point is shuffle volume at corpus scale, where the
    # verification join's payload is per-doc token arrays, not 8-byte ids.
    sizes = tok.groupBy("id").agg(F.count("*").alias("n_tok"))
    cands = (
        cands.join(
            sizes.select(F.col("id").alias("id1"), F.col("n_tok").alias("n1")),
            "id1",
        )
        .join(
            sizes.select(F.col("id").alias("id2"), F.col("n_tok").alias("n2")),
            "id2",
        )
        .where(
            F.least("n1", "n2")
            >= F.lit(jaccard_threshold) * F.greatest("n1", "n2")
        )
    )
    sets_ = tok.groupBy("id").agg(F.collect_set("tok").alias("toks"))
    near_edges = (
        cands.join(
            sets_.select(F.col("id").alias("id1"), F.col("toks").alias("tk1")),
            "id1")
        .join(
            sets_.select(F.col("id").alias("id2"), F.col("toks").alias("tk2")),
            "id2")
        .withColumn("isect", F.size(F.array_intersect("tk1", "tk2")))
        .where(
            F.col("isect") / (F.col("n1") + F.col("n2") - F.col("isect"))
            >= F.lit(jaccard_threshold)
        )
        .select("id1", "id2")
    )
    edges = exact_edges.unionByName(near_edges)
    groups = assign_components(
        ids.withColumnRenamed("id", "record_id"),
        edges.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    return groups.select(
        F.col("record_id").alias(id_col),
        F.col("component_id").alias("keep_id"),
        (F.col("record_id") == F.col("component_id")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03): hash every character k-gram, then from each window of
    ``window`` consecutive k-gram hashes select the minimum (rightmost
    position on ties); the distinct selected (position, hash) pairs are the
    document's fingerprints.  Guarantees any shared substring of length
    ≥ k + window − 1 yields a shared fingerprint.

    Plan: one explode over gram positions, hashes JVM-side (``_md5_long``),
    the per-window minimum via a **partitioned** window (per doc, ordered by
    position — never global).  The rightmost-tie-break is encoded
    arithmetically: min over ``'%020d' % hash || '%010d' % (10^9 − pos)``
    ranks equal hashes by descending position, and the winner decodes back
    out of the string — the same expression runs in the DuckDB oracle.
    """
    from pyspark.sql import Window

    n_grams = F.greatest(F.length(text_col) - (k - 1), F.lit(0))
    grams = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
                    n_grams.alias("n_grams"))
        .where(F.col("n_grams") >= 1)
        .select(
            "id", "n_grams", "_t",
            F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        )
        .select(
            "id", "n_grams", "pos",
            _md5_long(F.col("_t").substr(F.col("pos"), F.lit(k))).alias("h"),
        )
    )
    enc = F.concat(
        F.format_string("%020d", F.col("h")),
        F.format_string("%010d", F.lit(1_000_000_000) - F.col("pos")),
    )
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    sel = (
        grams.withColumn("sel", F.min(enc).over(w))
        # only full windows (plus the single partial window of a short doc)
        .where(F.col("pos") <= F.greatest(F.col("n_grams") - (window - 1), F.lit(1)))
        .select(
            F.col("id").alias(id_col),
            (F.lit(1_000_000_000) - F.substring("sel", 21, 10).cast("long")).alias("fp_pos"),
            F.substring("sel", 1, 20).cast("long").alias("fp_hash"),
        )
        .distinct()
    )
    return sel


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    output_round_to: int | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold: SRP-LSH buckets → exact cosine filter.

    ``output_round_to`` rounds the output cosine from the RAW value (the
    threshold always applies to the 6dp-rounded one): rounding the already-
    6dp-rounded value again would park ~1% of outputs exactly on the coarser
    grid's midpoints, where engines disagree on the half-way direction.
    """
    from ..functions.similarity import cosine
    from .ann import _srp_signature

    if dim is None:
        first = embeddings.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        if first is None:  # empty / all-null input → empty result, same schema
            return embeddings.sparkSession.createDataFrame(
                [], "id1 long, id2 long, cosine double"
            )
        dim = len(first[0])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _srp_signature(F.col(vec_col), dim, n_planes, t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    banded = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.explode(band_structs).alias("bb"),
    ).select("id", "v", F.col("bb.tbl").alias("tbl"), F.col("bb.bucket").alias("bucket"))
    # the SRP projections (n_tables × n_planes dot products per vector) are
    # not subplan-reused across a broadcast self-join — compute them once
    banded = banded.localCheckpoint(eager=False)
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(r, ["tbl", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.col("l.v").alias("v1"),
            F.col("r.v").alias("v2"),
        )
        .distinct()
    )
    out = (
        # round BEFORE the threshold: a cosine within one ulp of the cut must
        # not pass in one engine and fail in the oracle
        cands.select("id1", "id2", cosine(F.col("v1"), F.col("v2")).alias("_raw"))
        .withColumn("cosine", F.round("_raw", 6))
        .where(F.col("cosine") >= threshold)
    )
    if output_round_to is not None:
        return out.select(
            "id1", "id2", F.round("_raw", output_round_to).alias("cosine")
        )
    return out.select("id1", "id2", "cosine")


def duplicated_spans(
    docs: DataFrame,
    gram_tokens: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    refine_boundaries: bool = False,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (the removable-span
    primitive of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 — here seeded at L-gram granularity
    rather than a suffix array, which does not distribute).

    A position p of a doc is *covered* when its L-token gram (L =
    ``gram_tokens``) also occurs in >= ``min_docs`` distinct documents;
    maximal runs of consecutive covered positions are merged into spans,
    so a 50-token verbatim quote shared by two pages emits ONE span of
    43 covered L=8 positions, not 43 rows.  Returns one row per span:
    ``doc_id, start_tok, end_tok, n_grams`` (inclusive 0-based token
    indices; ``end_tok - start_tok + 1 = n_grams + L - 1`` tokens).

    Scale shape: per-position grams are an array projection and are hashed
    in the SAME projection (only the 32-char md5 ever shuffles, never gram
    text); duplicated grams come from one hash aggregate; coverage is a
    shuffle equi-join on the gram hash; span merging is the classic
    islands trick — ``pos - row_number()`` per doc — over a window
    PARTITIONED by doc (no global window).  Everything is O(total tokens)
    rows with map-side combine.

    The position/gram-hash table is localCheckpointed before its two
    consumers (the dup aggregate and the coverage join) — otherwise the
    tokenize+md5 projection runs twice; measured at sf0.1: ~5.5 s vs ~9.2 s
    (A/B, 3 reps each, quiet local[32]).

    ``refine_boundaries`` closes the main approximation of plain L-gram
    islands: consecutive covered positions p and p+1 merge into one span
    even when no single duplicated string of length L+1 exists (p's gram
    duplicated against one partner, p+1's against another).  With the
    refinement on, a merge step p→p+1 additionally requires the
    (L+1)-gram at p to be duplicated in >= ``min_docs`` docs — the
    "neighboring gram hash" join — so a span of n_grams=k certifies a
    duplicated string of exactly start..end tokens whenever the span is
    witnessed by a single partner.  Remaining (documented) gap vs Lee et
    al.'s suffix array: a chain whose every (L+1)-step is duplicated but
    against DIFFERENT partners still merges, and duplicates shorter than
    L tokens are still invisible.  Cost: one more hash-only projection +
    aggregate + equi-join, same window — the scale shape is unchanged.
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    n = F.size(toks)

    def gram_array(length: int):
        return F.when(
            n >= length,
            F.transform(
                F.sequence(F.lit(0), n - length),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(toks, i + 1, length))
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(gram_array(gram_tokens)).alias("pos", "gram_md5"),
    ).localCheckpoint(eager=False)
    dup = (
        pos.groupBy("gram_md5")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram_md5")
    )
    covered = pos.join(dup, "gram_md5").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    if not refine_boundaries:
        islands = covered.withColumn(
            "_island", F.col("pos") - F.row_number().over(w)
        )
    else:
        pos2 = docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(gram_array(gram_tokens + 1)).alias("pos", "g2"),
        ).localCheckpoint(eager=False)
        dup2 = (
            pos2.groupBy("g2")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("g2")
        )
        linked = (
            pos2.join(dup2, "g2")
            .select("doc_id", "pos", F.lit(True).alias("_lk"))
        )
        cov2 = covered.join(linked, ["doc_id", "pos"], "left").withColumn(
            "_lk", F.coalesce(F.col("_lk"), F.lit(False))
        )
        cov2 = cov2.withColumn(
            "_brk",
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.lag("pos").over(w) != F.col("pos") - 1)
                | (~F.lag("_lk").over(w)),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        islands = cov2.withColumn(
            "_island",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("start_tok"),
            (F.max("pos") + F.lit(gram_tokens - 1)).cast("long").alias(
                "end_tok"
            ),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("_island")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------

def semantic_dedup(
    embeddings: DataFrame,
    centroids,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
    output_round_to: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., arXiv
    2303.09540) over an embedding column: assign every vector to its
    nearest centroid, then WITHIN each cluster drop any vector whose
    cosine similarity (6dp, round-before-threshold) to an EARLIER vector
    in the cluster's screening order is >= ``threshold``.  Screening order
    = (similarity-to-centroid 6dp DESC, id ASC) — most-central first, as
    the reference SemDeDup screening does, with a deterministic id
    tie-break.  A vector is dropped if ANY earlier vector is a near-dup
    (the max-over-the-upper-triangle rule), so the keep set is a pure
    function of the pair table — no iteration, no order dependence.

    Output: one row per input vector —
    ``(<id_col>, cluster_id, centroid_sim, keep)``.

    Scale shape (100 TB): centroids are broadcast (K x dim float64) and
    assignment is one Arrow-batched UDF pass — vectors never shuffle for
    it; the only shuffle keys on ``cluster_id``, and the pairwise stage is
    a cluster-bucketed self-join.  K is chosen so clusters stay bounded
    (SemDeDup runs K ~ n/10^4); ``max_cluster_size`` purges pathological
    clusters from the pairwise stage (their members are all KEPT, the same
    escape hatch as the LSH ``max_bucket_size`` bucket purge) so one hot
    cluster cannot go quadratic.

    Arithmetic is always the cross-engine parity recipe (float64 inputs,
    6dp round-before-argmin / -rank / -threshold, ties to the lowest
    cluster id / id) — this operator is oracle-checked and the recipe is
    free at runtime.  ``output_round_to`` rounds the RAW centroid
    similarity for output (never the 6dp value — the double-rounding
    midpoint hazard, see ``embedding_near_dup_pairs``).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    from ..functions.similarity import cosine

    spark = embeddings.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    # lifetime: lazy plan references the broadcast; released by the context
    # cleaner when the UDF closure is collected (K x dim float64 ~ KBs)
    bc = spark.sparkContext.broadcast(C)

    @pandas_udf(IntegerType())
    def nearest_cluster(v: pd.Series) -> pd.Series:
        Cv = bc.value
        Xb = np.stack(v.to_numpy()).astype(np.float64)
        d2 = np.round(
            (Xb**2).sum(axis=1, keepdims=True)
            - 2.0 * Xb @ Cv.T
            + (Cv**2).sum(axis=1)[None, :],
            6,
        )  # round-before-argmin; np.argmin ties -> lowest cluster id
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    cent_df = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(len(C))],
            "cluster_id int, _centroid array<double>",
        )
    )
    base = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("cluster_id", nearest_cluster("v"))
        .join(cent_df, "cluster_id")
        .withColumn("_raw", cosine(F.col("v"), F.col("_centroid")))
        .withColumn("_sim6", F.round("_raw", 6))
        .drop("_centroid")
    )
    # assignment + centroid sims feed both self-join sides AND the output —
    # cut the plan so the UDF pass runs once, not three times
    base = base.localCheckpoint(eager=False)
    in_pairs = base
    if max_cluster_size is not None:
        sizes = base.groupBy("cluster_id").agg(F.count("*").alias("_csz"))
        in_pairs = base.join(
            F.broadcast(sizes.where(F.col("_csz") <= max_cluster_size)),
            "cluster_id",
        ).drop("_csz")
    l, r = in_pairs.alias("l"), in_pairs.alias("r")
    earlier = (F.col("l._sim6") > F.col("r._sim6")) | (
        (F.col("l._sim6") == F.col("r._sim6")) & (F.col("l.id") < F.col("r.id"))
    )
    dropped = (
        l.join(r, (F.col("l.cluster_id") == F.col("r.cluster_id")) & earlier)
        # round BEFORE the threshold (cross-engine cut stability)
        .where(F.round(cosine(F.col("l.v"), F.col("r.v")), 6) >= threshold)
        .select(F.col("r.id").alias("id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    sim_out = (
        F.round("_raw", output_round_to)
        if output_round_to is not None
        else F.col("_sim6")
    )
    return base.join(dropped, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster_id",
        sim_out.alias("centroid_sim"),
        (~F.coalesce(F.col("_dropped"), F.lit(False))).alias("keep"),
    )
