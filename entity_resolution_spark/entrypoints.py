"""Driver-facing query registry: the Spark query of every driver query.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
testdata tables (``documents``, ``embeddings``, ``events``) with the engine's
operators.  The independent DuckDB oracle SQL of each query lives in the
repo-level ``oracles`` module (outside this package, so it is not shipped to
the workers); every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import re
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.blocking_keys import phonetic_combination
from .functions.features import HALF_PI
from .operators import blocking, components, dedup, pairs

QueryFn = Callable[[SparkSession, str], DataFrame]

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def write_package_zip(zip_path: str) -> str:
    """Zip every ``.py`` file of this package under ``entity_resolution_spark/``:
    the archive both ``spark-submit --py-files`` and :func:`ensure_shipped`
    ship to executors."""
    top = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, top))
    return zip_path


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (``--py-files`` analog).

    Pandas UDFs are pickled by module reference; a driver launched from a
    different cwd (e.g. the verify harness) would otherwise hit
    ``ModuleNotFoundError`` in the workers.  Zips the package once per
    session and registers it with ``addPyFile`` — the exact mechanism
    ``spark-submit --py-files`` uses on a real cluster.
    """
    if spark.conf.get("spark.er.pkgShipped", None) == "1":
        return
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="er_spark_pkg_")
    os.close(fd)
    spark.sparkContext.addPyFile(write_package_zip(zip_path))
    spark.conf.set("spark.er.pkgShipped", "1")


# ---------------------------------------------------------------------------
# Building blocks
# ---------------------------------------------------------------------------

def _doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _title(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc(spark, sf_dir).select(
        "doc_id", F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("title")
    )


def _edges(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Shared meta-blocked edge table (``candidate_pairs`` spreads the
    quadratic self-join over all cores)."""
    return pairs.edge_weights(_blocks(spark, sf_dir), broadcast_blocks=True, **kw)


def _blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(record_id, block_key) long form from the reference blocking rule."""
    return (
        _title(spark, sf_dir)
        .select(
            F.col("doc_id").alias("record_id"),
            F.explode(phonetic_combination(F.col("title"))).alias("block_key"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Queries (SURVEY §2 ids in comments)
# ---------------------------------------------------------------------------

def q_blocking_keys(spark: SparkSession, sf_dir: str) -> DataFrame:  # B2+B5
    return _blocks(spark, sf_dir)


def q_block_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:  # G1
    return blocking.block_sizes(_blocks(spark, sf_dir))


def q_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:  # G2
    return pairs.candidate_pairs(_blocks(spark, sf_dir), distinct=True, broadcast_blocks=True)


def q_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:  # G3
    return _edges(spark, sf_dir)


def q_edge_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:  # G4
    return _edges(spark, sf_dir, with_provenance=True).select(
        "id1", "id2", F.array_join("provenance", ",").alias("provenance")
    )


def q_pruned_edges(spark: SparkSession, sf_dir: str) -> DataFrame:  # G5
    return pairs.prune(_edges(spark, sf_dir))


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:  # G6
    pruned = pairs.prune(_edges(spark, sf_dir))
    docs = _doc(spark, sf_dir).select(F.col("doc_id").alias("record_id"))
    return components.assign_components(
        docs, pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    )


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:  # G7
    return (
        q_connected_components(spark, sf_dir)
        .groupBy("component_id")
        .agg(F.count("*").alias("n_records"))
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:  # dedup: exact
    return dedup.exact_dedup(_doc(spark, sf_dir))


def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:  # dedup: jaccard
    # edges (small output, expensive chain) feeds the intersection AND the
    # final join — checkpoint it; tokens are long-form and cheaper to recompute
    edges = (
        pairs.prune(_edges(spark, sf_dir)).select("id1", "id2")
        .localCheckpoint(eager=False)
    )
    tok = dedup._tokens(_doc(spark, sf_dir), "doc_id", "text")
    return dedup.set_jaccard(edges, tok, "jaccard").withColumn(
        "jaccard", F.round("jaccard", 6)
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:  # dedup: minhash
    return dedup.minhash_signatures(_doc(spark, sf_dir))


def q_minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: 4 bands × 2 rows; pairs agreeing on ≥1 band."""
    sig = q_minhash_signatures(spark, sf_dir)
    return dedup.minhash_band_pairs(sig, id_col="doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:  # text analysis
    from .functions import text as T

    d = _doc(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.distinct_token_count(F.col("text")).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_len"),
        F.round(T.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global heavy hitters: the 50 most frequent whitespace tokens with a
    deterministic (count desc, token asc) tie order — the corpus-wide
    vocabulary/stopword-derivation step of a training pipeline (CCNet
    derives its stopword and LM vocab lists exactly this way).

    Scale shape: one map-side-combinable hash aggregate over the exploded
    token stream (partial counts collapse before the shuffle, so shuffled
    volume is the DISTINCT vocab, not the token stream), then a 50-row
    TakeOrdered — no global sort of the vocabulary.

    Token boundary is the explicit class ``[ \\t\\n\\r\\f]+`` rather than
    ``\\s+``: Java regex ``\\s`` includes ``\\x0B`` (vertical tab) while
    DuckDB's RE2 ``\\s`` does not, so the engine-independent class keeps
    the Spark query and its oracle agreeing on exotic ASCII whitespace."""
    d = _doc(spark, sf_dir)
    toks = d.select(
        F.explode(F.split(F.col("text"), r"[ \t\n\r\f]+")).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:  # E4 window top-k
    d = _doc(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("lang", "doc_id", "n_chars", F.row_number().over(w).cast("long").alias("rn"))
        .where(F.col("rn") <= 3)
    )


def q_date_keys(spark: SparkSession, sf_dir: str) -> DataFrame:  # B3+B4
    from .functions.blocking_keys import sliding_window_key, two_of_three_date

    e = _events(spark, sf_dir)
    return e.select(
        "event_id",
        F.explode(two_of_three_date(F.col("ts"))).alias("date_key"),
    ).union(
        e.select("event_id", sliding_window_key(F.col("ts"), 7).alias("date_key"))
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (batch analog of the streaming op)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:  # ANN baseline
    """Brute-force cosine top-5 neighbors for the first 10 vec_ids."""
    from .operators.ann import cosine_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 10)
    return cosine_topk(queries_df, emb, k=5, round_to=4)


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:  # F11
    t = _title(spark, sf_dir)
    edges = pairs.prune(_edges(spark, sf_dir)).select("id1", "id2")
    t1 = t.select(F.col("doc_id").alias("id1"), F.col("title").alias("title1"))
    t2 = t.select(F.col("doc_id").alias("id2"), F.col("title").alias("title2"))
    return (
        edges.join(t1, "id1")
        .join(t2, "id2")
        .select("id1", "id2", F.levenshtein("title1", "title2").cast("long").alias("lev"))
    )


def _wrap(fn: QueryFn) -> QueryFn:
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_shipped(spark)
        return fn(spark, sf_dir)

    inner.__name__ = fn.__name__
    inner.__doc__ = fn.__doc__
    return inner


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:  # dedup: char 3-gram
    docs = _doc(spark, sf_dir)
    edges = pairs.prune(_edges(spark, sf_dir)).select("id1", "id2")
    return dedup.ngram_jaccard_pairs(docs, edges)


def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = q_minhash_signatures(spark, sf_dir)
    edges = pairs.prune(_edges(spark, sf_dir)).select("id1", "id2")
    return dedup.minhash_jaccard_estimate(sig, edges)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_hamming=3 ⇒ 4×16-bit bands: the pigeonhole guarantee holds AND the
    # buckets stay selective (a larger k needs k+1 narrower bands — supported,
    # but candidate volume grows; 3 is the standard near-dup radius).
    sig = dedup.simhash_signatures(_doc(spark, sf_dir))
    return dedup.simhash_near_pairs(sig, max_hamming=3)


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import similarity as S

    docs = _doc(spark, sf_dir).select(F.col("doc_id").alias("record_id"), "text")
    vectors = S.tfidf_vectors(docs, num_features=None)  # term-keyed (oracle parity)
    edges = pairs.prune(_edges(spark, sf_dir)).select("id1", "id2")
    return S.tfidf_cosine_pairs(edges, vectors).withColumn(
        "tfidf_cosine", F.round("tfidf_cosine", 6)
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text as T

    return _doc(spark, sf_dir).select(
        "doc_id", F.round(T.quality_score(F.col("text")), 6).alias("quality")
    )


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import text as T

    return _doc(spark, sf_dir).select(
        "doc_id", T.lang_guess(F.col("text")).alias("lang_pred")
    )


def q_feature_embed(spark: SparkSession, sf_dir: str) -> DataFrame:  # F3/F4 quarter-circle
    from .functions import features as FE

    d = _doc(spark, sf_dir)
    ord_col = F.pmod(F.col("n_chars"), F.lit(10))
    bool_col = F.pmod(F.col("n_chars"), F.lit(2))
    oc, os_ = FE.embed_ordinal(ord_col, 9)
    bc, bs = FE.embed_bool(bool_col)
    return d.select(
        "doc_id",
        F.round(oc, 6).alias("ord_cos"),
        F.round(os_, 6).alias("ord_sin"),
        bc.alias("bool_cos"),
        bs.alias("bool_sin"),
    )


def q_klsh_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:  # G8 (oracled)
    """Per-component KMeans via deterministic fixed-iteration Lloyd
    (hash-seeded centroids) over engineered features — the oracle-checkable
    G8 variant; the sklearn-parity ``klsh_sweep`` (k sweep, k-means++,
    n_init=10) keeps reference parity in ``tests/test_klsh_parity.py``.

    Features per record: per-component population z-score of ``n_chars``
    (F1) + ordinal quarter-circle of ``n_chars % 10`` (F4), all rounded to
    6dp so both engines cluster the identical doubles.  Variance uses the
    explicit ``E[x²]−E[x]²`` form over exact integer sums, making mean/std
    bit-identical across engines and accumulation orders.
    """
    from .operators import klsh

    assignment = q_connected_components(spark, sf_dir)
    recs = (
        _doc(spark, sf_dir)
        .select(F.col("doc_id").alias("record_id"), "n_chars")
        .join(assignment, "record_id")
    )
    stats = recs.groupBy("component_id").agg(
        F.avg("n_chars").alias("_mu"),
        F.avg(F.col("n_chars").cast("long") * F.col("n_chars")).alias("_musq"),
    )
    var = F.col("_musq") - F.col("_mu") * F.col("_mu")
    theta = F.pmod("n_chars", F.lit(10)).cast("double") / F.lit(9.0) * F.lit(HALF_PI)
    feats = recs.join(stats, "component_id").select(
        "component_id",
        "record_id",
        F.round(
            F.when(var > 0, (F.col("n_chars") - F.col("_mu")) / F.sqrt(var))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("f1"),
        F.round(F.cos(theta), 6).alias("f2"),
        F.round(F.sin(theta), 6).alias("f3"),
    )
    return klsh.klsh_lloyd(feats, ["f1", "f2", "f3"], k=4, iters=5)


def q_encoder_forward(spark: SparkSession, sf_dir: str) -> DataFrame:  # F9 (oracled)
    """Encoder forward pass through the real F9 machinery (broadcast
    weights, Arrow-batched pandas UDF, ``ml.encoder.forward``) with the
    reduced weight set whose unrolled matmuls the oracle inlines as SQL
    literals.  ReLU (exact arithmetic) + float64 output keep cross-engine
    drift ~1e-14, far inside the 4dp output rounding; features are rounded
    to 6dp on both sides before entering the network.  The full 128-d GELU
    encoder (same ``forward`` code, bigger shapes) is covered by
    ``tests/test_scoring_and_encoder.py`` / ``test_encoder_pipeline.py``.
    """
    from .ml import encoder as E

    d = _doc(spark, sf_dir)
    theta_q = F.pmod("n_chars", F.lit(10)).cast("double") / F.lit(9.0) * F.lit(HALF_PI)
    theta_l = F.pmod("doc_id", F.lit(12)).cast("double") / F.lit(11.0) * F.lit(HALF_PI)
    feats = d.select(
        "doc_id",
        F.round(F.cos(theta_q), 6).alias("quality_cos"),
        F.round(F.sin(theta_q), 6).alias("quality_sin"),
        F.round(F.col("n_chars") / F.lit(500.0), 6).alias("resonance"),
        F.round(F.pmod("doc_id", F.lit(7)) / F.lit(7.0), 6).alias("tension"),
        F.when(F.pmod("n_chars", F.lit(2)) == 0, 1.0).otherwise(0.0).alias("tension_adj_cos"),
        F.when(F.pmod("n_chars", F.lit(2)) == 0, 0.0).otherwise(1.0).alias("tension_adj_sin"),
        F.round(F.cos(theta_l), 6).alias("longevity_cos"),
        F.round(F.sin(theta_l), 6).alias("longevity_sin"),
    )
    out = E.embed_dataframe(
        feats, E.reduced_init_weights(), activation="relu", output_dtype="float64"
    )
    return out.select(
        "doc_id",
        *[
            F.round(F.element_at("embedding", j + 1), 4).alias(f"e{j}")
            for j in range(8)
        ],
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:  # scale ANN (oracled)
    from .operators.ann import lsh_topk

    emb = _emb(spark, sf_dir)
    return lsh_topk(emb.where(F.col("vec_id") < 10), emb, k=5, dim=64, round_to=4)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:  # PQ-ADC ANN (oracled)
    """Product-quantization ADC top-5 for the first 10 vec_ids, in parity
    mode: fixed (data-independent) 6dp codebooks shared with the SQL oracle
    as literals, raw float64 inputs, 6dp round-before-argmin/rank at every
    cut.  rerank=20 exercises the real approx path (codes → ADC scan →
    candidate cut → exact rerank), not the rerank>=|corpus| degenerate."""
    from .operators.ann import pq_fixed_codebooks, pq_topk

    emb = _emb(spark, sf_dir)
    books = pq_fixed_codebooks(m=4, ksub=16, dsub=16)
    return pq_topk(
        emb.where(F.col("vec_id") < 10),
        emb,
        k=5,
        m=4,
        ksub=16,
        rerank=20,
        codebooks=books,
        round_to=4,
        parity=True,
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:  # IVF ANN (oracled)
    """IVF coarse-quantizer top-5 for the first 10 vec_ids, in parity mode:
    fixed (data-independent) 6dp centroids shared with the SQL oracle as
    literals, float64 arithmetic, 6dp round-before-argmin for the corpus→
    list assignment and round-before-rank for the probe cut.  n_probe=3 of
    8 lists exercises the real approx path (most of the corpus is never
    scored), with the exact-cosine rerank recipe shared by the other ANN
    oracles."""
    from .operators.ann import ivf_fixed_centroids, ivf_topk

    emb = _emb(spark, sf_dir)
    cents = ivf_fixed_centroids(n_lists=8, dim=64)
    return ivf_topk(
        emb.where(F.col("vec_id") < 10),
        emb,
        k=5,
        n_lists=8,
        n_probe=3,
        centroids=cents,
        round_to=4,
        parity=True,
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2303.09540) semantic dedup over the
    embeddings table: 16 fixed (data-independent, 6dp) centroids shared
    with the SQL oracle as literals; within each cluster the screening
    order is (centroid-sim 6dp DESC, vec_id ASC) and a vector drops when
    any earlier one has pairwise cosine (6dp) >= 0.35.  The testdata
    embeddings carry no true near-dups (max pairwise cosine ~0.5), so the
    demo threshold sits where the keep/drop split is non-trivial at every
    gate scale (sf0.001: 440 kept / 60 dropped)."""
    from .operators.ann import ivf_fixed_centroids

    return dedup.semantic_dedup(
        _emb(spark, sf_dir),
        centroids=ivf_fixed_centroids(n_lists=16, dim=64),
        threshold=0.35,
        output_round_to=4,
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: docs with
    ``doc_id % 31 == 0`` play the held-out eval suite, the rest the
    training corpus; any shared overlapping 4-token gram flags the
    training doc.  (Real pipelines use 8-13 grams — GPT-3 appx C uses 13 —
    but the fixture docs are 10-99 tokens, so n=4 keeps the hit set
    non-trivial at small SF; the operator takes ``n`` as a parameter.)"""
    from .operators.webtext import benchmark_contamination

    d = _doc(spark, sf_dir)
    return benchmark_contamination(
        d.where(F.pmod("doc_id", F.lit(31)) != 0),
        d.where(F.pmod("doc_id", F.lit(31)) == 0),
        n=4,
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction fingerprint.  The synthetic corpus carries
    no organic PII, so deterministic markers (an email, an IPv4, a phone)
    are planted on doc_id-keyed subsets — identically in the SQL oracle —
    so the detectors and the redaction path are actually exercised."""
    from .operators.webtext import pii_scan

    d = _doc(spark, sf_dir)
    did = F.col("doc_id")
    aug = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.pmod(did, F.lit(7)) == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.pmod(did, F.lit(11)) == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    F.pmod(did, F.lit(256)).cast("string"),
                    F.lit("."),
                    F.pmod(did, F.lit(100)).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.pmod(did, F.lit(13)) == 0, F.lit(" call 555-867-5309"))
            .otherwise(F.lit("")),
        ),
    )
    return pii_scan(aug)


def q_distinct_token_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-token estimate over the corpus vocabulary (k=128),
    engine-reproducible by construction (md5-normalized hashes)."""
    from .functions.text import tokens as _tok
    from .operators.sketches import kmv_distinct_estimate

    tok = _doc(spark, sf_dir).select(
        F.explode(_tok(F.col("text"))).alias("tok")
    )
    return kmv_distinct_estimate(tok, "tok", k=128)


def q_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filter signal: per-doc cross-entropy under a
    Laplace-smoothed bigram LM trained on the corpus itself.  Per-bigram
    ln(p) quantized to integer micro-nats, then integer arithmetic
    end-to-end — the ce_micro output is exact, partition- and
    engine-invariant (see operators/lm.py for why a float mean is not)."""
    from .operators.lm import bigram_cross_entropy

    return bigram_cross_entropy(_doc(spark, sf_dir))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc duplicated 8-gram spans (Lee et al. removable-span
    dedup primitive) over the documents table."""
    return dedup.duplicated_spans(_doc(spark, sf_dir))


def q_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-refined duplicated spans: a merge step p→p+1 additionally
    requires the 9-gram at p to be duplicated, so a span certifies a
    contiguous duplicated string (single-partner case) instead of merely a
    run of independently-duplicated 8-grams — one join closer to Lee et
    al.'s suffix-array semantics, same hash-only shuffle."""
    return dedup.duplicated_spans(_doc(spark, sf_dir), refine_boundaries=True)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget training-sequence packing (next-fit within hash-ordered
    shards) over the documents table: budget 512 whitespace tokens,
    8 shards.  Integer window arithmetic end-to-end."""
    from .functions.text import tokens as _tok
    from .operators.packing import pack_sequences

    d = _doc(spark, sf_dir).select(
        "doc_id", F.size(_tok(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(d, budget_tokens=512, n_shards=8)


def q_packed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training packs: concatenated member texts per
    (shard, pack_id) in the packing's hash order, compared by md5."""
    from .functions.text import tokens as _tok
    from .operators.packing import packed_texts

    d = _doc(spark, sf_dir).select(
        "doc_id", "text", F.size(_tok(F.col("text"))).alias("n_tokens")
    )
    out = packed_texts(d, budget_tokens=512, n_shards=8)
    return out.select(
        "shard",
        "pack_id",
        "n_docs",
        "n_tokens",
        F.md5("text").alias("text_md5"),
    )


def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate over the corpus vocabulary —
    the map-side-combinable counterpart to distinct_token_kmv, with an
    exact integer sketch checksum (s_scaled) oracled alongside the
    estimate."""
    from .functions.text import tokens as _tok
    from .operators.sketches import hll_distinct_estimate

    tok = _doc(spark, sf_dir).select(
        F.explode(_tok(F.col("text"))).alias("tok")
    )
    return hll_distinct_estimate(tok, "tok")


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-level boilerplate removal.  The fixture text is
    single-line, so each doc is wrapped into a deterministic multi-line page
    (source-specific cookie/nav/copyright lines + a rare newsletter line
    that stays under the per-source threshold) identically in the SQL
    oracle; the operator must strip exactly the per-source recurring lines
    and reassemble the rest in order (verified via md5)."""
    from .operators.webtext import strip_boilerplate

    pages = _doc(spark, sf_dir).select(
        "doc_id", "source", _synth_page().alias("page")
    )
    return strip_boilerplate(pages, min_docs=5).select(
        "doc_id",
        "n_lines",
        "n_boiler",
        F.md5("cleaned").alias("cleaned_md5"),
    )


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mix sampling: per-source keep rates (by
    source index mod 4: 0.9 / 0.5 / 0.25 / 0.0), decided by an integer
    compare of a 60-bit md5 hash against driver-computed literal
    thresholds — reproducible at any partitioning and engine.  The source
    list is a bounded driver-side distinct (source cardinality is tiny by
    construction; a deployment would pass its curated rate table)."""
    from .operators.sampling import hash_stratified_sample

    d = _doc(spark, sf_dir).select("doc_id", "source")
    return hash_stratified_sample(
        d, _mix_rates(d), strata_col="source", id_col="doc_id", salt="mix-v1"
    )


def q_crawl_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl compaction over the (url, warc_ts) identity of a crawl
    corpus: keep the newest snapshot per canonical URL, smallest doc_id on
    timestamp ties.  URL and warc_ts are synthesized deterministically from
    doc_id (url as in q_url_dedup — canonical groups are doc_id mod 160;
    warc_ts spaced so some groups DO tie, ids 480 apart share pmod 240)
    identically in the SQL oracle, which expresses the same argmax as a max
    over fixed-width printf-encoded (epoch, 9999999-id) strings."""
    from .functions.urls import canonical_url
    from .operators.relational import latest_snapshot_per_key

    d = _doc(spark, sf_dir).select(
        "doc_id",
        _synth_url().alias("url"),
        _synth_warc_ts().alias("warc_ts"),
    )
    snaps = d.select(
        canonical_url(F.col("url")).alias("canonical_url"),
        "warc_ts",
        "doc_id",
    )
    return latest_snapshot_per_key(
        snaps, "canonical_url", "warc_ts", "doc_id"
    )


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl delta report.  Two overlapping crawl windows are
    carved deterministically out of the synthesized (url, warc_ts) corpus:
    old = waves 0-1 (doc_id<320) thinned by doc_id%5!=0 (groups d≡0 mod 5
    vanish → 'added'), new = waves 1-2 (160<=doc_id<480) thinned by
    doc_id%4!=0 (groups d≡0 mod 4 vanish → 'removed'; 160≡0 mod 4/5 keeps
    the thinning group-aligned).  Shared groups with d>=80 argmax onto
    different waves per side (wave 0 vs wave 2) → 'changed'.  Each side is
    compacted to its latest snapshot, fingerprinted by md5(text) of the
    kept doc, and full-outer diffed; all four statuses are exercised."""
    from .functions.urls import canonical_url
    from .operators.relational import latest_snapshot_per_key, snapshot_diff

    d = _doc(spark, sf_dir)
    snaps = d.select(
        "doc_id",
        canonical_url(_synth_url()).alias("canonical_url"),
        _synth_warc_ts().alias("warc_ts"),
    )
    fps = d.select(
        F.col("doc_id").alias("keep_doc_id"), F.md5("text").alias("fp")
    )

    def side(pred):
        s = latest_snapshot_per_key(
            snaps.where(pred), "canonical_url", "warc_ts", "doc_id"
        )
        return s.join(fps, "keep_doc_id").select("canonical_url", "fp")

    did = F.col("doc_id")
    old = side((did < 320) & (F.pmod(did, F.lit(5)) != 0))
    new = side(
        (did >= 160) & (did < 480) & (F.pmod(did, F.lit(4)) != 0)
    )
    return snapshot_diff(old, new, "canonical_url", "fp")


def q_prepared_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end webtext pipeline (plans/webtext_pipeline.py), oracle
    checked as one statement: synthesized (url, warc_ts, page) crawl →
    canonicalize + compact → per-source boilerplate strip → quality/lang
    filter → exact+LSH dedup with transitive closure → stratified mix.
    The DuckDB mirror composes the url-canon CTEs, the printf argmax, the
    boilerplate CTEs, the doc_filter quality/lang fragments, and the
    keep-list recursive closure over the CLEANED text."""
    from .plans.webtext_pipeline import WebtextConfig, prepare_corpus

    d = _doc(spark, sf_dir)
    pages = d.select(
        "doc_id",
        "source",
        _synth_url().alias("url"),
        _synth_warc_ts().alias("warc_ts"),
        _synth_page().alias("page"),
    )
    out = prepare_corpus(
        pages,
        WebtextConfig(
            boiler_min_docs=5,
            min_quality=0.3,
            keep_langs=("en",),
            jaccard_threshold=0.8,
            mix_rates=_mix_rates(d),
            mix_default_rate=0.0,
        ),
    )
    return out.select(
        "doc_id",
        "canonical_url",
        "n_versions",
        "source",
        "n_boiler",
        "quality",
        "lang_pred",
        F.md5("text").alias("text_md5"),
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus report (the CCNet-style stats stage): docs, total
    tokens, mean quality in integer micro-units (the quantize-to-int rule:
    a rounded float mean of 6dp-grid values parks on midpoints — see
    lm_cross_entropy), dominant language (argmax by count, code tie-break)
    per registrable host of the synthesized URLs."""
    from .functions.text import lang_guess, quality_score, tokens as _tok
    from .functions.urls import host_of

    d = _doc(spark, sf_dir).select(
        "doc_id",
        host_of(_synth_url()).alias("host"),
        F.size(_tok(F.col("text"))).alias("n_tokens"),
        F.round(F.round(quality_score(F.col("text")), 6) * 1_000_000, 0)
        .cast("long")
        .alias("q_micro"),
        lang_guess(F.col("text")).alias("lang"),
    )
    per_lang = d.groupBy("host", "lang").agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("tok"),
        F.sum("q_micro").alias("qsum"),
    )
    # dominant language: max docs, ties -> lexicographically smallest code
    # (encode as struct(n, negated code?) — strings can't negate, so invert
    # via min over struct(-n, lang))
    win = F.min(
        F.struct((-F.col("n")).alias("nn"), F.col("lang").alias("lg"))
    ).alias("w")
    return (
        per_lang.groupBy("host")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tokens"),
            F.sum("qsum").alias("_qs"),
            win,
        )
        .select(
            "host",
            "n_docs",
            "total_tokens",
            F.expr("_qs div n_docs").cast("long").alias("mean_q_micro"),
            F.col("w.lg").alias("top_lang"),
        )
    )


def q_blocked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1-style domain blocklist filtering over the synthesized URLs:
    suffix-explode + broadcast equi-join (never a non-equi endswith scan);
    reports each blocked doc with its most specific matching entry."""
    from .functions.urls import blocklist_hits

    d = _doc(spark, sf_dir).select("doc_id", _synth_url().alias("url"))
    blocked = spark.createDataFrame(
        [("site3.example.com",), ("site17.example.com",),
         ("site21.example.com",)],
        "domain string",
    )
    return blocklist_hits(d, blocked)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (CCNet §3.1 stage): canonicalize spelled-differently
    URLs and group.  The fixture corpus has no url column, so each doc's
    URL is synthesized deterministically from doc_id — with case noise,
    www/port/trailing-slash/dup-slash variants, tracking params, unsorted
    params, and fragments — identically in the SQL oracle; docs whose ids
    agree mod 320 canonicalize to the same resource."""
    from .functions.urls import canonical_url

    d = _doc(spark, sf_dir).select("doc_id", _synth_url().alias("url"))
    return (
        d.groupBy(canonical_url(F.col("url")).alias("canonical_url"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _synth_url() -> Column:
    """Deterministic messy-URL synthesis from doc_id (shared by
    q_url_dedup / q_crawl_snapshot and their SQL oracles)."""
    did = F.col("doc_id")
    return F.concat(
        F.when(F.pmod(did, F.lit(2)) == 0, F.lit("HTTPS")).otherwise(
            F.lit("http")
        ),
        F.lit("://"),
        F.when(F.pmod(did, F.lit(3)) == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"),
        F.pmod(did, F.lit(40)).cast("string"),
        F.lit(".Example.com"),
        F.when(
            (F.pmod(did, F.lit(2)) == 0) & (F.pmod(did, F.lit(5)) == 0),
            F.lit(":443"),
        ).otherwise(F.lit("")),
        F.lit("/p//"),
        F.pmod(did, F.lit(160)).cast("string"),
        F.when(F.pmod(did, F.lit(4)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.pmod(did, F.lit(6)) == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(F.pmod(did, F.lit(6)) == 3, F.lit("?b=2&a=1&gclid=xyz"))
        .otherwise(F.lit("?a=1&b=2")),
        F.when(F.pmod(did, F.lit(9)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def _synth_warc_ts() -> Column:
    """Deterministic crawl timestamp from doc_id: pmod(doc_id, 240) * 7 hours
    after 2024-01-01, so ids 480 apart tie (shared by q_crawl_snapshot /
    q_crawl_diff / q_prepared_corpus and their SQL oracles)."""
    return F.expr(
        "timestampadd(HOUR, cast(pmod(doc_id, 240) * 7 as int),"
        " timestamp'2024-01-01 00:00:00')"
    )


def _synth_page() -> Column:
    """Deterministic multi-line page around the single-line fixture text:
    per-source cookie/nav/copyright lines plus a newsletter line on every
    50th doc (shared by q_boilerplate_strip / q_prepared_corpus and their
    SQL oracles)."""
    return F.concat_ws(
        "\n",
        F.concat(F.lit("Cookie notice for "), F.col("source")),
        F.concat(F.lit("Home | About | "), F.col("source")),
        F.col("text"),
        F.when(
            F.pmod(F.col("doc_id"), F.lit(50)) == 0,
            F.lit("Subscribe to our newsletter"),
        ),
        F.concat(F.lit("(c) 2024 "), F.col("source")),
    )


def _mix_rates(docs: DataFrame) -> dict[str, float]:
    """Per-source keep rate by source index mod 4: 0.9 / 0.5 / 0.25 / 0.0,
    over the bounded driver-side source list (shared by q_training_mix /
    q_prepared_corpus and their SQL oracles)."""
    from .operators.sampling import collect_strata

    rate_cycle = [0.9, 0.5, 0.25, 0.0]
    return {
        s: rate_cycle[int(re.search(r"(\d+)", s).group(1)) % 4]
        for s in collect_strata(docs, "source")
    }


def _emb_pairs_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled scored pairs: cosine(embedding) over vec_id<50 pairs, label =
    same class; cosine rounded to 6dp BEFORE any ranking so Spark and the
    oracle rank identical values."""
    from .functions.similarity import cosine

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 50)
    a = e.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"), F.col("label").alias("l1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"), F.col("label").alias("l2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("score"),
            (F.col("l1") == F.col("l2")).alias("is_match"),
        )
    )


def q_pair_auroc(spark: SparkSession, sf_dir: str) -> DataFrame:  # E5 AUROC
    from .operators import evaluate

    return evaluate.auroc(_emb_pairs_scored(spark, sf_dir))


def q_pair_threshold_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:  # E5
    from .operators import evaluate

    return evaluate.threshold_metrics(_emb_pairs_scored(spark, sf_dir), threshold=0.5)


def q_hash_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:  # B7
    from .functions.blocking_keys import hash_date_features

    my, dy, dm = hash_date_features(F.col("ts"))
    return _events(spark, sf_dir).select(
        "event_id",
        F.round(my, 6).alias("my_feat"),
        F.round(dy, 6).alias("dy_feat"),
        F.round(dm, 6).alias("dm_feat"),
    )


def q_metaphone_keys(spark: SparkSession, sf_dir: str) -> DataFrame:  # B1 (oracled)
    from .functions.blocking_keys import metaphone_udf

    return _title(spark, sf_dir).select(
        "doc_id", metaphone_udf(F.col("title")).alias("metaphone")
    )


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:  # F8
    from .functions.features import iqr_outlier_report

    return iqr_outlier_report(_events(spark, sf_dir), ["value"])


def q_score_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:  # E6
    """Distribution of pair scores: 10 bins of tfidf cosine over pruned pairs."""
    scored = q_tfidf_cosine(spark, sf_dir)
    bin_col = F.least(F.floor(F.col("tfidf_cosine") * 10), F.lit(9)).cast("long")
    return scored.groupBy(bin_col.alias("bin")).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg("tfidf_cosine"), 6).alias("mean_score"),
    )


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:  # dedup e2e (oracled)
    return dedup.dedup_keep_list(_doc(spark, sf_dir), jaccard_threshold=0.8)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints: k=5 grams, window 4."""
    return dedup.winnow_fingerprints(_doc(spark, sf_dir), k=5, window=4)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP-LSH buckets + exact filter."""
    # testdata embeddings have no true near-dups (max pairwise cosine ≈0.48),
    # so the demo threshold is 0.3: nonzero LSH-collision pairs to verify
    return dedup.embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.3, dim=64, output_round_to=4
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap rule) — the hash-verified analog of
    the stateful streaming session operator (streaming/stream_ops.py).
    Per-user partitioned windows only; deterministic ordering by (ts,
    event_id)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-granularity diff: at the timestamps' native resolution the
    # engines agree exactly (second-granularity date_diff counts boundary
    # crossings in DuckDB but floors elapsed time in Spark)
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    brk = F.when(F.col("_prev_ts").isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    s = e.withColumn("_prev_ts", F.lag("ts").over(w)).withColumn("brk", brk).withColumn(
        "session_idx",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (ROLLUP event_type × hour) — grouping-sets
    coverage; NULL group markers replaced with sentinels so the oracle
    compare is NULL-free."""
    e = _events(spark, sf_dir).withColumn("hr", F.date_trunc("hour", F.col("ts")))
    return (
        e.rollup("event_type", "hr")
        .agg(
            F.grouping("event_type").cast("long").alias("g_type"),
            F.grouping("hr").cast("long").alias("g_hr"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "g_type",
            "g_hr",
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("hr"), F.lit("1900-01-01 00:00:00").cast("timestamp_ntz")).alias("hr"),
            "n_events",
            "sum_value",
        )
    )


def q_docs_without_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join shape: documents with no STRONG edge (weight > 2.5 — the
    default 1.5 prune leaves zero orphans in this corpus, so the demo uses
    the stricter cut to make the anti-join non-trivial)."""
    pruned = pairs.prune(_edges(spark, sf_dir), threshold=2.5)
    ids = (
        pruned.select(F.col("id1").alias("doc_id"))
        .union(pruned.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    return _doc(spark, sf_dir).select("doc_id", "lang").join(ids, "doc_id", "left_anti")


def q_two_stage_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:  # B6
    """Hierarchical blocking: lang (exact) stage 1, title phonetic stage 2 —
    composite keys only co-block docs agreeing on both."""
    from .operators.blocking import BlockingStage, block

    d = _doc(spark, sf_dir).select(
        F.col("doc_id").alias("record_id"),
        "lang",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("title"),
    )
    return block(
        d, [BlockingStage("lang", "exact"), BlockingStage("title", "phonetic_combination")]
    )


_PIVOT_LANGS = ["en", "de", "es", "fr"]


def q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT shape: per source, document counts by language (wide) + total
    chars — the crosstab a corpus-composition report needs.  Explicit pivot
    value list so the plan is a single hash aggregate (no distinct-values
    pre-pass) with deterministic output columns."""
    d = _doc(spark, sf_dir)
    p = (
        d.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)
        .agg(F.count(F.lit(1)))
    )
    tot = d.groupBy("source").agg(F.sum("n_chars").alias("total_chars"))
    return p.join(tot, "source").select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).cast("long").alias(f"n_{lang}")
            for lang in _PIVOT_LANGS
        ],
        "total_chars",
    )


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based `percentile`,
    not the approximate sketch) — p50/p90/p99 of event value by type."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count("*").alias("n_events"),
    )


def q_purchasers_with_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT shape: users who both purchased and hit an error."""
    e = _events(spark, sf_dir)
    a = e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    b = e.where(F.col("event_type") == "error").select("user_id").distinct()
    return a.intersect(b)


def q_soundex_keys(spark: SparkSession, sf_dir: str) -> DataFrame:  # B1
    from .functions.blocking_keys import soundex_key

    return _title(spark, sf_dir).select(
        "doc_id", soundex_key(F.col("title")).alias("soundex")
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition/diversity signals."""
    from .operators.webtext import repetition_signals

    return repetition_signals(_doc(spark, sf_dir))


def q_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document duplicated 8-token chunks."""
    from .operators.webtext import cross_doc_chunk_dups

    return cross_doc_chunk_dups(_doc(spark, sf_dir), chunk_tokens=8, min_docs=2)


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the same user's latest click
    at-or-before it (union-marker single window pass — no range join).
    Sentinels (-1 / 1900-01-01) replace NULLs for never-clicked purchases so
    the oracle compare is NULL-free."""
    from .operators.relational import asof_join

    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        ts_col="ts",
        right_value_cols=["click_id", "ts"],
        right_tie_col="click_id",
    )
    clicked = F.col("r_click_id").isNotNull()
    micros = F.expr("timestampdiff(MICROSECOND, r_ts, ts)")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("r_click_id"), F.lit(-1)).cast("long").alias("click_id"),
        F.coalesce(
            F.col("r_ts"), F.lit("1900-01-01 00:00:00").cast("timestamp_ntz")
        ).alias("click_ts"),
        F.coalesce(F.when(clicked, micros), F.lit(-1)).cast("long").alias(
            "micros_since_click"
        ),
    )


def q_error_nearby_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: per error event, how many views by the same user
    within ±5 minutes (bucket-explode equi-join, never a BNLJ/cartesian)."""
    from .operators.relational import bucketed_range_join

    e = _events(spark, sf_dir)
    errors = e.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select("user_id", "ts")
    paired = bucketed_range_join(
        errors, views, key="user_id", ts_col="ts", radius_micros=300_000_000
    )
    counts = paired.groupBy("event_id").agg(F.count("*").alias("n_nearby_views"))
    return errors.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("n_nearby_views"), F.lit(0)).cast("long").alias(
            "n_nearby_views"
        ),
    )


def q_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data keep/drop filter composing the text-quality
    operators: heuristic quality score, language ID, and the Gopher
    repetition signals.  Thresholds apply to the 6dp-rounded values on both
    sides (round-before-threshold).  Reasons are priority-ordered; `keep`
    is 0/1."""
    from .functions.text import lang_guess, quality_score
    from .operators.webtext import repetition_signals

    d = _doc(spark, sf_dir)
    sig = repetition_signals(d).select(
        "doc_id", "distinct_ratio", "dup_bigram_frac"
    )
    base = d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        lang_guess(F.col("text")).alias("lang_pred"),
    )
    j = base.join(sig, "doc_id")
    fail_lang = F.col("lang_pred") == "und"
    fail_q = F.col("quality") < 0.5
    fail_rep = F.col("dup_bigram_frac") > 0.12
    fail_div = F.col("distinct_ratio") < 0.35
    keep = ~(fail_lang | fail_q | fail_rep | fail_div)
    reason = (
        F.when(fail_lang, "lang_unknown")
        .when(fail_q, "low_quality")
        .when(fail_rep, "repetitive")
        .when(fail_div, "low_diversity")
        .otherwise("ok")
    )
    return j.select(
        "doc_id",
        "quality",
        "distinct_ratio",
        "dup_bigram_frac",
        "lang_pred",
        keep.cast("long").alias("keep"),
        reason.alias("reason"),
    )


def queries() -> dict[str, QueryFn]:
    return {
        k: _wrap(v)
        for k, v in _raw_queries().items()
    }


def _raw_queries() -> dict[str, QueryFn]:
    return {
        "blocking_keys": q_blocking_keys,
        "block_sizes": q_block_sizes,
        "candidate_pairs": q_candidate_pairs,
        "edge_weights": q_edge_weights,
        "edge_provenance": q_edge_provenance,
        "pruned_edges": q_pruned_edges,
        "connected_components": q_connected_components,
        "component_sizes": q_component_sizes,
        "exact_dedup": q_exact_dedup,
        "token_jaccard": q_token_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "minhash_band_candidates": q_minhash_band_candidates,
        "text_stats": q_text_stats,
        "top_tokens": q_top_tokens,
        "topk_per_group": q_topk_per_group,
        "date_keys": q_date_keys,
        "windowed_event_counts": q_windowed_event_counts,
        "embedding_topk": q_embedding_topk,
        "levenshtein_pairs": q_levenshtein_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "simhash_near_pairs": q_simhash_near_pairs,
        "tfidf_cosine": q_tfidf_cosine,
        "quality_score": q_quality_score,
        "lang_guess": q_lang_guess,
        "feature_embed": q_feature_embed,
        "klsh_lloyd": q_klsh_lloyd,
        "encoder_forward": q_encoder_forward,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        "contamination_check": q_contamination_check,
        "pii_scan": q_pii_scan,
        "distinct_token_kmv": q_distinct_token_kmv,
        "hll_distinct_tokens": q_hll_distinct_tokens,
        "dup_spans": q_dup_spans,
        "dup_spans_exact": q_dup_spans_exact,
        "pack_sequences": q_pack_sequences,
        "packed_corpus": q_packed_corpus,
        "url_dedup": q_url_dedup,
        "domain_stats": q_domain_stats,
        "blocked_docs": q_blocked_docs,
        "prepared_corpus": q_prepared_corpus,
        "training_mix": q_training_mix,
        "crawl_snapshot": q_crawl_snapshot,
        "crawl_diff": q_crawl_diff,
        "lm_cross_entropy": q_lm_cross_entropy,
        "boilerplate_strip": q_boilerplate_strip,
        "soundex_keys": q_soundex_keys,
        "pair_auroc": q_pair_auroc,
        "pair_threshold_metrics": q_pair_threshold_metrics,
        "iqr_outliers": q_iqr_outliers,
        "hash_date_features": q_hash_date_features,
        "metaphone_keys": q_metaphone_keys,
        "two_stage_blocks": q_two_stage_blocks,
        "score_histogram": q_score_histogram,
        "dedup_keep_list": q_dedup_keep_list,
        "winnow_fingerprints": q_winnow_fingerprints,
        "embedding_near_dups": q_embedding_near_dups,
        "user_sessions": q_user_sessions,
        "event_rollup": q_event_rollup,
        "docs_without_edges": q_docs_without_edges,
        "lang_pivot": q_lang_pivot,
        "value_percentiles": q_value_percentiles,
        "purchasers_with_errors": q_purchasers_with_errors,
        "repetition_signals": q_repetition_signals,
        "chunk_dups": q_chunk_dups,
        "purchase_attribution": q_purchase_attribution,
        "error_nearby_views": q_error_nearby_views,
        "doc_filter": q_doc_filter,
    }


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle SQL of every query, from the repo-level ``oracles``
    module (kept out of this package so it is not zipped to the workers;
    callers run from the repo root, which is on ``sys.path``).  This name
    stays because ``perfbench/oracle.py`` imports it from here."""
    import oracles

    return oracles.oracle_sql()
