"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 over the driver's
testdata tables (``documents``, ``embeddings``, ``events``).  The Spark side
uses the engine's operators; the oracle side is independent ANSI SQL.  Every
computed column is aliased identically on both sides.
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

_TITLE_SQL = "split_part(text, ' ', 1)"

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


_BLOCKS_SQL = f"""
    SELECT DISTINCT doc_id AS record_id, block_key FROM (
        SELECT doc_id, unnest([
            substr(s, 1, 1),
            substr(s, 1, 2),
            substr(s, 1, 3),
            substr(s, greatest(length(s) - 2, 1), 3),
            regexp_replace(regexp_replace(s, '[^\\p{{L}}]', '', 'g'), '[aeiou]', '', 'g')
        ]) AS block_key
        FROM (SELECT doc_id, lower({_TITLE_SQL}) AS s FROM documents)
    )
"""

_EDGES_SQL = f"""
    blocks AS ({_BLOCKS_SQL}),
    edges AS (
        SELECT l.record_id AS id1, r.record_id AS id2, count(*) AS weight
        FROM blocks l JOIN blocks r
          ON l.block_key = r.block_key AND l.record_id < r.record_id
        GROUP BY 1, 2
    )
"""

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


# Shared CTE chain: synthesize the messy URL from doc_id (mirror of
# _synth_url) and canonicalize it (mirror of functions/urls.canonical_url).
# Yields `canon` with (doc_id, canonical_url).
_URL_CANON_CTES = r"""
            WITH u AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
                || '://'
                || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
                || 'Site' || (doc_id % 40)::VARCHAR || '.Example.com'
                || (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0
                         THEN ':443' ELSE '' END)
                || '/p//' || (doc_id % 160)::VARCHAR
                || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&b=2&a=1'
                         WHEN doc_id % 6 = 3 THEN '?b=2&a=1&gclid=xyz'
                         ELSE '?a=1&b=2' END)
                || (CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END) AS url
              FROM documents
            ),
            parts AS (
              SELECT doc_id,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
                regexp_extract(url, '\?([^#]*)', 1) AS rawquery
              FROM u
            ),
            withp AS (
              SELECT doc_id, scheme, hostport, rawpath,
                array_to_string(list_sort(list_filter(
                    string_split(rawquery, '&'),
                    p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))),
                    '&') AS params
              FROM parts
            ),
            canon AS (
              SELECT doc_id, scheme || '://'
                || (CASE WHEN (scheme = 'http' AND hostport LIKE '%:443')
                           OR (scheme = 'https' AND hostport LIKE '%:80')
                         THEN regexp_replace(hostport, '^www\.', '')
                         ELSE regexp_replace(
                                regexp_replace(hostport, '^www\.', ''),
                                ':(80|443)$', '') END)
                || regexp_replace(
                     regexp_replace(rawpath, '/{2,}', '/', 'g'), '/+$', '')
                || (CASE WHEN params <> '' THEN '?' || params ELSE '' END)
                   AS canonical_url
              FROM withp
            )
"""

_URL_DEDUP_SQL = _URL_CANON_CTES + r"""
            SELECT canonical_url, count(*)::BIGINT AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM canon GROUP BY 1 HAVING count(*) >= 2
        """

_SNAPS_CTES = _URL_CANON_CTES + r"""
            , snaps AS (
              SELECT canonical_url, doc_id,
                TIMESTAMP '2024-01-01 00:00:00'
                  + to_hours((doc_id % 240) * 7) AS warc_ts
              FROM canon
            )
"""

_CRAWL_SNAPSHOT_SQL = _SNAPS_CTES + r"""
            SELECT canonical_url, count(*)::BIGINT AS n_versions,
                   make_timestamp(substr(max(printf('%015d%07d',
                       epoch(warc_ts)::BIGINT, 9999999 - doc_id)),
                       1, 15)::BIGINT * 1000000) AS latest_ts,
                   9999999 - substr(max(printf('%015d%07d',
                       epoch(warc_ts)::BIGINT, 9999999 - doc_id)),
                       16, 7)::BIGINT AS keep_doc_id
            FROM snaps GROUP BY 1
        """

_CRAWL_DIFF_SQL = _SNAPS_CTES + r"""
            , old_win AS (
              SELECT canonical_url,
                     9999999 - substr(max(printf('%015d%07d',
                         epoch(warc_ts)::BIGINT, 9999999 - doc_id)),
                         16, 7)::BIGINT AS keep_doc_id
              FROM snaps WHERE doc_id < 320 AND doc_id % 5 <> 0 GROUP BY 1
            ),
            new_win AS (
              SELECT canonical_url,
                     9999999 - substr(max(printf('%015d%07d',
                         epoch(warc_ts)::BIGINT, 9999999 - doc_id)),
                         16, 7)::BIGINT AS keep_doc_id
              FROM snaps
              WHERE doc_id >= 160 AND doc_id < 480 AND doc_id % 4 <> 0
              GROUP BY 1
            ),
            old_side AS (
              SELECT w.canonical_url, md5(d.text) AS old_fp
              FROM old_win w JOIN documents d ON d.doc_id = w.keep_doc_id
            ),
            new_side AS (
              SELECT w.canonical_url, md5(d.text) AS new_fp
              FROM new_win w JOIN documents d ON d.doc_id = w.keep_doc_id
            )
            SELECT coalesce(o.canonical_url, n.canonical_url)
                     AS canonical_url,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp <> n.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_fp, n.new_fp
            FROM old_side o
            FULL OUTER JOIN new_side n ON o.canonical_url = n.canonical_url
        """


def _prepared_corpus_sql() -> str:
    """Single-statement DuckDB mirror of q_prepared_corpus: url-canon CTEs →
    printf-argmax compaction → boilerplate CTEs over the compacted pages →
    doc_filter's quality/lang fragments over the CLEANED text → the
    keep-list minhash/LSH/recursive-closure over the cleaned text →
    stratified-mix hash threshold."""
    t09, t05, t025 = (
        int(0.9 * (1 << 60)),
        int(0.5 * (1 << 60)),
        int(0.25 * (1 << 60)),
    )
    head = _URL_CANON_CTES.replace("WITH u AS (", "WITH RECURSIVE u AS (", 1)
    return head + f"""
            , snaps AS (
              SELECT doc_id, canonical_url,
                TIMESTAMP '2024-01-01 00:00:00'
                  + to_hours((doc_id % 240) * 7) AS warc_ts
              FROM canon
            ),
            win AS (
              SELECT canonical_url, count(*)::BIGINT AS n_versions,
                     9999999 - substr(max(printf('%015d%07d',
                         epoch(warc_ts)::BIGINT, 9999999 - doc_id)),
                         16, 7)::BIGINT AS doc_id
              FROM snaps GROUP BY 1
            ),
            pages AS (
              SELECT w.canonical_url, w.n_versions, w.doc_id, d.source,
                concat_ws(chr(10),
                  'Cookie notice for ' || d.source,
                  'Home | About | ' || d.source,
                  d.text,
                  CASE WHEN d.doc_id % 50 = 0
                       THEN 'Subscribe to our newsletter' END,
                  '(c) 2024 ' || d.source) AS page
              FROM win w JOIN documents d ON d.doc_id = w.doc_id
            ),
            plines AS (
              SELECT doc_id, source AS grp, i - 1 AS pos, l[i] AS line,
                     trim(l[i]) AS norm
              FROM (SELECT doc_id, source,
                           string_split(page, chr(10)) AS l FROM pages),
                   LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) r
            ),
            pboiler AS (
              SELECT grp, norm FROM plines WHERE norm <> ''
              GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 5
            ),
            pflag AS (
              SELECT l.doc_id, l.pos, l.line,
                     (b.norm IS NOT NULL) AS is_boiler
              FROM plines l
              LEFT JOIN pboiler b ON l.grp = b.grp AND l.norm = b.norm
            ),
            cleaned AS (
              SELECT doc_id,
                     sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT
                       AS n_boiler,
                     coalesce(string_agg(line, chr(10) ORDER BY pos)
                              FILTER (WHERE NOT is_boiler), '') AS text
              FROM pflag GROUP BY 1
            ),
            s AS (
                SELECT doc_id, length(text) AS n,
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                           x -> x IN ('the','and','of','to','in','is','that','for','with','was')))::double
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                      x -> x <> '')), 1) AS sw_ratio
                FROM cleaned
            ),
            qual AS (
                SELECT doc_id,
                       round((least(n / 500.0, 1.0)
                              + (1.0 - least(punct_ratio * 4.0, 1.0))
                              + least(sw_ratio * 5.0, 1.0)) / 3.0, 6)
                         AS quality
                FROM s
            ),
            ltoks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                   x -> x <> '') AS t
                FROM cleaned
            ),
            lscores AS (
                SELECT doc_id, lang, score FROM (
                    SELECT doc_id, 'de' AS lang,
                           len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','von','zu'))) AS score FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'en',
                           len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'es',
                           len(list_filter(t, x -> x IN ('el','la','de','que','los','una','con','por','para','es'))) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'fr',
                           len(list_filter(t, x -> x IN ('le','la','et','les','des','est','pas','une','dans','que'))) FROM ltoks
                )
            ),
            lang_best AS (
                SELECT doc_id,
                       CASE WHEN score > 0 THEN lang ELSE 'und' END
                         AS lang_pred
                FROM (SELECT doc_id, lang, score,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY score DESC,
                                                         lang DESC) AS rn
                      FROM lscores)
                WHERE rn = 1
            ),
            filt AS (
                SELECT c.doc_id, c.n_boiler, c.text, q.quality, lb.lang_pred
                FROM cleaned c
                JOIN qual q USING (doc_id)
                JOIN lang_best lb USING (doc_id)
                WHERE q.quality >= 0.3 AND lb.lang_pred IN ('en')
            ),
            tok AS (
                SELECT DISTINCT doc_id, tok FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS tok
                    FROM filt
                ) WHERE tok <> ''
            ),
            ne_toksz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
            sig AS (SELECT doc_id, {_MINHASH_COLS} FROM tok GROUP BY doc_id),
            banded AS (
                SELECT doc_id, 0 AS band, h0::varchar || '_' || h1::varchar AS bucket FROM sig
                UNION ALL
                SELECT doc_id, 1, h2::varchar || '_' || h3::varchar FROM sig
                UNION ALL
                SELECT doc_id, 2, h4::varchar || '_' || h5::varchar FROM sig
                UNION ALL
                SELECT doc_id, 3, h6::varchar || '_' || h7::varchar FROM sig
            ),
            cands AS (
                SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                FROM banded l JOIN banded r
                  ON l.band = r.band AND l.bucket = r.bucket
                 AND l.doc_id < r.doc_id
            ),
            inter AS (
                SELECT c.id1, c.id2, count(*) AS isect
                FROM cands c
                JOIN tok t1 ON t1.doc_id = c.id1
                JOIN tok t2 ON t2.doc_id = c.id2 AND t1.tok = t2.tok
                GROUP BY 1, 2
            ),
            near AS (
                SELECT i.id1, i.id2
                FROM inter i
                JOIN ne_toksz s1 ON s1.doc_id = i.id1
                JOIN ne_toksz s2 ON s2.doc_id = i.id2
                WHERE i.isect::double / (s1.n_tok + s2.n_tok - i.isect) >= 0.8
            ),
            fp AS (
                SELECT doc_id AS id,
                       md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g')))
                         AS fp
                FROM filt
            ),
            fpmin AS (SELECT fp, min(id) AS keep FROM fp GROUP BY 1),
            exact AS (
                SELECT f.id AS id1, m.keep AS id2
                FROM fp f JOIN fpmin m USING (fp) WHERE f.id <> m.keep
            ),
            alledges AS (SELECT id1, id2 FROM exact
                         UNION SELECT id1, id2 FROM near),
            bi AS (SELECT id1 AS src, id2 AS dst FROM alledges
                   UNION SELECT id2, id1 FROM alledges),
            reach(src, dst) AS (
                SELECT src, dst FROM bi
                UNION
                SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
            ),
            mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
            kept AS (
                SELECT f.doc_id FROM filt f
                LEFT JOIN mins m ON f.doc_id = m.src
                WHERE f.doc_id = least(f.doc_id, coalesce(m.mn, f.doc_id))
            )
            SELECT p.doc_id, p.canonical_url, p.n_versions, p.source,
                   f.n_boiler, f.quality, f.lang_pred,
                   md5(f.text) AS text_md5
            FROM kept k
            JOIN filt f ON f.doc_id = k.doc_id
            JOIN pages p ON p.doc_id = k.doc_id
            WHERE ('0x' || substr(md5('mix-v1:' || p.doc_id::VARCHAR), 1, 15))
                    ::BIGINT
                  < CASE (regexp_extract(p.source, '(\\d+)', 1)::INT % 4)
                      WHEN 0 THEN {t09}
                      WHEN 1 THEN {t05}
                      WHEN 2 THEN {t025}
                      ELSE 0 END
        """


def _hll_sql() -> str:
    """DuckDB mirror of sketches.hll_distinct_estimate over the corpus
    token stream (same md5-prefix hash as KMV; exact integer register
    sums; constants shared with the Spark side by importing them)."""
    from entity_resolution_spark.operators.sketches import (
        _HLL_ALPHA,
        _HLL_M,
        _HLL_W,
    )

    num = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)
    return f"""
            WITH lst AS (
                SELECT list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ),
            tok AS (SELECT unnest(toks) AS tok FROM lst),
            h AS (
                SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM tok
            ),
            r AS (
                SELECT h >> {_HLL_W} AS bucket,
                       CASE WHEN strpos(lpad(bin(
                                h & ((1::BIGINT << {_HLL_W}) - 1)),
                                {_HLL_W}, '0'), '1') = 0
                            THEN {_HLL_W + 1}
                            ELSE strpos(lpad(bin(
                                h & ((1::BIGINT << {_HLL_W}) - 1)),
                                {_HLL_W}, '0'), '1') END AS rho
                FROM h
            ),
            regs AS (SELECT bucket, max(rho) AS m_j FROM r GROUP BY 1),
            agg AS (
                SELECT count(*) AS present,
                       (sum(1::BIGINT << (53 - m_j))::BIGINT
                        + ({_HLL_M} - count(*)) * (1::BIGINT << 53))
                           AS s_scaled,
                       ({_HLL_M} - count(*))::BIGINT AS n_zero
                FROM regs
            )
            SELECT {_HLL_M}::BIGINT AS m,
                   n_zero AS n_zero_registers,
                   s_scaled::BIGINT AS s_scaled,
                   round(CASE WHEN {num!r} / s_scaled <= {2.5 * _HLL_M!r}
                               AND n_zero > 0
                          THEN {float(_HLL_M)!r}
                               * ln({float(_HLL_M)!r} / n_zero)
                          ELSE {num!r} / s_scaled END, 6) AS est_distinct
            FROM agg
        """


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_MINHASH_COLS = ", ".join(
    f"min(('0x' || substr(md5('{i}_' || tok), 1, 15))::bigint) AS h{i}"
    for i in range(8)
)

# Non-empty distinct tokens (operators.dedup._tokens semantics) as a CTE body.
_NE_TOKENS_SQL = """
    tok AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS tok
            FROM documents
        ) WHERE tok <> ''
    ),
    ne_toksz AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1)
"""

_SIG_SQL = f"WITH {_NE_TOKENS_SQL} SELECT doc_id, {_MINHASH_COLS} FROM tok GROUP BY doc_id"


def _simhash_sql(max_hamming: int = 8) -> str:
    """Bit-exact SQL replica of ``dedup.simhash_signatures`` +
    ``dedup.simhash_near_pairs``: md5-derived 60-bit token hash (bits 60-63
    of the signature are always 0, so only 60 per-bit sums are needed), the
    same (max_hamming+1)-band pigeonhole bucketing, exact Hamming filter."""
    from .operators.dedup import simhash_bands

    sums = ",\n                   ".join(
        f"sum(case when (h >> {b}) & 1 = 1 then 1 else -1 end) AS s{b}"
        for b in range(60)
    )
    sig = " + ".join(
        f"(case when s{b} > 0 then (1::bigint << {b}) else 0 end)" for b in range(60)
    )
    bands = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash >> {off}) & {(1 << w) - 1} AS bucket FROM sig"
        for i, (off, w) in enumerate(simhash_bands(max_hamming))
    )
    return f"""
        WITH {_NE_TOKENS_SQL},
        hashes AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM tok),
        sums AS (SELECT doc_id, {sums} FROM hashes GROUP BY doc_id),
        sig AS (SELECT doc_id, ({sig}) AS simhash FROM sums),
        banded AS ({bands})
        SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
               bit_count(xor(l.simhash, r.simhash))::bigint AS hamming
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


def _keep_list_sql(jaccard_threshold: float = 0.8) -> str:
    """SQL replica of ``dedup.dedup_keep_list``: exact-fingerprint edges +
    Jaccard-verified MinHash-LSH edges + recursive-CTE transitive closure
    (same closure the ``connected_components`` oracle uses)."""
    return f"""
        WITH RECURSIVE {_NE_TOKENS_SQL},
        sig AS (SELECT doc_id, {_MINHASH_COLS} FROM tok GROUP BY doc_id),
        banded AS (
            SELECT doc_id, 0 AS band, h0::varchar || '_' || h1::varchar AS bucket FROM sig
            UNION ALL
            SELECT doc_id, 1, h2::varchar || '_' || h3::varchar FROM sig
            UNION ALL
            SELECT doc_id, 2, h4::varchar || '_' || h5::varchar FROM sig
            UNION ALL
            SELECT doc_id, 3, h6::varchar || '_' || h7::varchar FROM sig
        ),
        cands AS (
            SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        ),
        inter AS (
            SELECT c.id1, c.id2, count(*) AS isect
            FROM cands c
            JOIN tok t1 ON t1.doc_id = c.id1
            JOIN tok t2 ON t2.doc_id = c.id2 AND t1.tok = t2.tok
            GROUP BY 1, 2
        ),
        near AS (
            SELECT i.id1, i.id2
            FROM inter i
            JOIN ne_toksz s1 ON s1.doc_id = i.id1
            JOIN ne_toksz s2 ON s2.doc_id = i.id2
            WHERE i.isect::double / (s1.n_tok + s2.n_tok - i.isect) >= {jaccard_threshold}
        ),
        fp AS (
            SELECT doc_id AS id,
                   md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS fp
            FROM documents
        ),
        fpmin AS (SELECT fp, min(id) AS keep FROM fp GROUP BY 1),
        exact AS (
            SELECT f.id AS id1, m.keep AS id2
            FROM fp f JOIN fpmin m USING (fp) WHERE f.id <> m.keep
        ),
        alledges AS (SELECT id1, id2 FROM exact UNION SELECT id1, id2 FROM near),
        bi AS (SELECT id1 AS src, id2 AS dst FROM alledges
               UNION SELECT id2, id1 FROM alledges),
        reach(src, dst) AS (
            SELECT src, dst FROM bi
            UNION
            SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
        ),
        mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1)
        SELECT d.doc_id,
               least(d.doc_id, coalesce(m.mn, d.doc_id)) AS keep_id,
               (d.doc_id = least(d.doc_id, coalesce(m.mn, d.doc_id))) AS is_kept
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
    """


# A..Z soundex codes; '7' marks H/W (skipped without resetting the last code),
# '0' marks vowels (skipped but resetting it) — the exact automaton of Spark's
# built-in soundex (UTF8String.soundex), verified char-for-char in tests.
_SOUNDEX_MAP = "01230127022455012623017202"


def _soundex_sql() -> str:
    """Recursive-CTE replica of Spark's ``soundex`` over trimmed titles.

    Walks the uppercased string one char at a time carrying (sx, sxi, last)
    state; non-letters reset ``last`` to '0'; code '7' (H/W) is skipped with
    ``last`` unchanged; a non-letter *first* char returns the input unchanged
    (Spark's passthrough behavior).  Titles are ASCII, so char-level equals
    Spark's byte-level walk.
    """
    return f"""
        WITH RECURSIVE t AS (
            SELECT doc_id, trim({_TITLE_SQL}) AS s FROM documents
        ),
        up AS (SELECT doc_id, s, upper(s) AS u FROM t),
        walk(doc_id, i, n, sx, sxi, last) AS (
            SELECT doc_id, 2, length(u), substr(u, 1, 1), 1,
                   substr('{_SOUNDEX_MAP}', ascii(substr(u, 1, 1)) - 64, 1)
            FROM up
            WHERE length(u) > 0 AND substr(u, 1, 1) BETWEEN 'A' AND 'Z'
            UNION ALL
            SELECT doc_id, i + 1, n,
                   CASE WHEN code IS NOT NULL AND code NOT IN ('7', '0')
                             AND code <> last
                        THEN sx || code ELSE sx END,
                   CASE WHEN code IS NOT NULL AND code NOT IN ('7', '0')
                             AND code <> last
                        THEN sxi + 1 ELSE sxi END,
                   CASE WHEN code IS NULL THEN '0'
                        WHEN code = '7' THEN last
                        ELSE code END
            FROM (
                SELECT w.doc_id, w.i, w.n, w.sx, w.sxi, w.last,
                       CASE WHEN substr(u.u, w.i, 1) BETWEEN 'A' AND 'Z'
                            THEN substr('{_SOUNDEX_MAP}',
                                        ascii(substr(u.u, w.i, 1)) - 64, 1)
                            END AS code
                FROM walk w JOIN up u USING (doc_id)
                WHERE w.i <= w.n AND w.sxi < 4
            )
        ),
        finals AS (
            SELECT doc_id, rpad(sx, 4, '0') AS soundex,
                   row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
            FROM walk
        )
        SELECT doc_id, soundex FROM finals WHERE rn = 1
        UNION ALL
        SELECT doc_id, s AS soundex FROM up
        WHERE length(u) = 0 OR NOT substr(u, 1, 1) BETWEEN 'A' AND 'Z'
    """


def _mp_in(x: str, chars: str) -> str:
    """SQL for the Python idiom ``x in "<chars>"`` — which is *substring*
    containment, so the empty string (past-end sentinel) matches ANY charset.
    The reference-faithful quirk: a trailing W/Y is kept, a final "TI" → X,
    a final G → J, etc., because ``'' in "AEIOU"`` is True in Python."""
    lst = ",".join(f"'{c}'" for c in chars)
    return f"({x} = '' OR {x} IN ({lst}))"


_MP_VOWELS = "AEIOU"

_MP_EMIT = f"""CASE
    WHEN i > 1 AND c = prev AND c <> 'C' THEN ''
    WHEN c IN ('A','E','I','O','U') THEN CASE WHEN i = 1 THEN c ELSE '' END
    WHEN c = 'B' THEN CASE WHEN i = n AND i > 1 AND prev = 'M' THEN '' ELSE 'B' END
    WHEN c = 'C' THEN CASE WHEN nxt = 'I' AND nxt2 = 'A' THEN 'X'
                           WHEN nxt = 'H' THEN
                               CASE WHEN i > 1 AND prev = 'S' THEN 'K' ELSE 'X' END
                           WHEN {_mp_in('nxt', 'IEY')} THEN 'S'
                           ELSE 'K' END
    WHEN c = 'D' THEN CASE WHEN nxt = 'G' AND {_mp_in('nxt2', 'EIY')} THEN 'J' ELSE 'T' END
    WHEN c = 'G' THEN CASE WHEN nxt = 'H' THEN
                               CASE WHEN i + 2 > n OR nxt2 IN ('A','E','I','O','U')
                                    THEN 'K' ELSE '' END
                           WHEN nxt = 'N' THEN ''
                           WHEN {_mp_in('nxt', 'IEY')} THEN 'J'
                           ELSE 'K' END
    WHEN c = 'H' THEN CASE WHEN i > 1 AND prev IN ('A','E','I','O','U')
                                AND NOT {_mp_in('nxt', _MP_VOWELS)} THEN ''
                           WHEN i > 1 AND prev IN ('C','S','P','T','G') THEN ''
                           ELSE 'H' END
    WHEN c IN ('F','J','L','M','N','R') THEN c
    WHEN c = 'K' THEN CASE WHEN i > 1 AND prev = 'C' THEN '' ELSE 'K' END
    WHEN c = 'P' THEN CASE WHEN nxt = 'H' THEN 'F' ELSE 'P' END
    WHEN c = 'Q' THEN 'K'
    WHEN c = 'S' THEN CASE WHEN nxt = 'H' THEN 'X'
                           WHEN nxt = 'I' AND {_mp_in('nxt2', 'OA')} THEN 'X'
                           ELSE 'S' END
    WHEN c = 'T' THEN CASE WHEN nxt = 'H' THEN '0'
                           WHEN nxt = 'I' AND {_mp_in('nxt2', 'OA')} THEN 'X'
                           ELSE 'T' END
    WHEN c = 'V' THEN 'F'
    WHEN c = 'W' THEN CASE WHEN {_mp_in('nxt', _MP_VOWELS)} THEN 'W' ELSE '' END
    WHEN c = 'X' THEN 'KS'
    WHEN c = 'Y' THEN CASE WHEN {_mp_in('nxt', _MP_VOWELS)} THEN 'Y' ELSE '' END
    WHEN c = 'Z' THEN 'S'
    ELSE '' END"""

_MP_ADV = f"""CASE
    WHEN i > 1 AND c = prev AND c <> 'C' THEN 1
    WHEN c = 'D' AND nxt = 'G' AND {_mp_in('nxt2', 'EIY')} THEN 2
    WHEN c = 'G' AND nxt = 'H' THEN 2
    ELSE 1 END"""


def _metaphone_sql() -> str:
    """Recursive-CTE replica of the classic Metaphone automaton
    (``functions.blocking_keys._metaphone_one``): same initial-letter
    exceptions, then a char walk where D(GE/GI/GY) and GH consume two chars.
    SQL position ``i`` is 1-based (Python ``i`` + 1), so Python's
    ``i + 2 >= n`` becomes ``i + 2 > n``.
    """
    return f"""
        WITH RECURSIVE m0 AS (
            SELECT doc_id,
                   regexp_replace(upper(trim({_TITLE_SQL})), '[^A-Z]', '', 'g') AS w0
            FROM documents
        ),
        m1 AS (
            SELECT doc_id,
                   CASE WHEN substr(w0, 1, 2) IN ('AE','GN','KN','PN','WR')
                             THEN substr(w0, 2)
                        WHEN substr(w0, 1, 1) = 'X' THEN 'S' || substr(w0, 2)
                        WHEN substr(w0, 1, 2) = 'WH' THEN 'W' || substr(w0, 3)
                        ELSE w0 END AS w
            FROM m0
        ),
        walk(doc_id, i, n, out) AS (
            SELECT doc_id, 1, length(w), '' FROM m1 WHERE length(w) >= 1
            UNION ALL
            SELECT doc_id, i + ({_MP_ADV}), n, out || ({_MP_EMIT})
            FROM (
                SELECT w.doc_id, w.i, w.n, w.out,
                       substr(m.w, w.i, 1) AS c,
                       CASE WHEN w.i > 1 THEN substr(m.w, w.i - 1, 1) ELSE '' END AS prev,
                       substr(m.w, w.i + 1, 1) AS nxt,
                       substr(m.w, w.i + 2, 1) AS nxt2
                FROM walk w JOIN m1 m USING (doc_id)
                WHERE w.i <= w.n
            )
        ),
        finals AS (
            SELECT doc_id, out,
                   row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
            FROM walk
        )
        SELECT d.doc_id, coalesce(f.out, '') AS metaphone
        FROM documents d
        LEFT JOIN (SELECT doc_id, out FROM finals WHERE rn = 1) f USING (doc_id)
    """


def _winnow_sql(k: int = 5, window: int = 4) -> str:
    """SQL replica of ``dedup.winnow_fingerprints`` — same md5 gram hash,
    same string-encoded (hash, rightmost-pos) window minimum."""
    return f"""
        WITH g AS (
            SELECT doc_id, text, greatest(length(text) - {k - 1}, 0) AS n_grams
            FROM documents
        ),
        grams AS (
            SELECT doc_id, n_grams, text,
                   unnest(generate_series(1, n_grams)) AS pos
            FROM g WHERE n_grams >= 1
        ),
        hashed AS (
            SELECT doc_id, n_grams, pos,
                   ('0x' || substr(md5(substr(text, pos, {k})), 1, 15))::bigint AS h
            FROM grams
        ),
        enc AS (
            SELECT doc_id, n_grams, pos,
                   min(printf('%020d', h) || printf('%010d', 1000000000 - pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS sel
            FROM hashed
        )
        SELECT DISTINCT doc_id,
               1000000000 - substr(sel, 21, 10)::bigint AS fp_pos,
               substr(sel, 1, 20)::bigint AS fp_hash
        FROM enc
        WHERE pos <= greatest(n_grams - {window - 1}, 1)
    """


def _srp_banded_sql(
    n_planes: int, n_tables: int, dim: int, seed: int
) -> tuple[str, str]:
    """Shared SRP signature/banding SQL used by both ANN oracles: (sig_cols
    select list, band_union over a CTE named ``sigs``).  One construction
    point so the two oracles can never diverge from each other or from
    ``ann._srp_signature``."""
    from .operators.ann import srp_plane_weight

    table_exprs = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            plane = ", ".join(
                repr(srp_plane_weight(seed, t, p, i)) for i in range(dim)
            )
            bits.append(
                f"(case when list_dot_product(embedding::DOUBLE[], [{plane}]) >= 0"
                f" then {1 << (n_planes - 1 - p)} else 0 end)"
            )
        table_exprs.append("(" + " + ".join(bits) + f") AS b{t}")
    sig_cols = ",\n               ".join(table_exprs)
    band_union = "\n            UNION ALL\n            ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sigs" for t in range(n_tables)
    )
    return sig_cols, band_union


def _embedding_near_dups_sql(
    threshold: float = 0.9, n_planes: int = 8, n_tables: int = 4,
    dim: int = 64, seed: int = 42,
) -> str:
    """SQL replica of ``dedup.embedding_near_dup_pairs`` (same literal SRP
    hyperplanes as the ANN oracle, bucket self-join, exact cosine filter)."""
    sig_cols, band_union = _srp_banded_sql(n_planes, n_tables, dim, seed)
    return f"""
        WITH sigs AS (SELECT vec_id, {sig_cols} FROM embeddings),
        banded AS ({band_union}),
        cands AS (
            SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
            FROM banded l JOIN banded r
              ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
        ),
        scored AS (
            SELECT id1, id2,
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = id1
            JOIN embeddings b ON b.vec_id = id2
        )
        -- output rounds the RAW cosine: double-rounding (raw -> 6dp -> 4dp)
        -- parks ~1% of values on 4dp midpoints where engines disagree
        SELECT id1, id2, round(raw, 4) AS cosine
        FROM scored WHERE round(raw, 6) >= {threshold}
    """


def _ann_lsh_sql(
    k: int = 5, n_planes: int = 8, n_tables: int = 4, dim: int = 64, seed: int = 42
) -> str:
    """SQL replica of ``ann.lsh_topk``: the md5-derived hyperplane weights are
    data-independent constants, so the same Python helper that builds the
    Spark literals (``ann.srp_plane_weight``) emits them here as SQL list
    literals — bucket assignment is the same arithmetic in both engines."""
    sig_cols, band_union = _srp_banded_sql(n_planes, n_tables, dim, seed)
    return f"""
        WITH sigs AS (SELECT vec_id, {sig_cols} FROM embeddings),
        banded AS ({band_union}),
        q AS (SELECT * FROM banded WHERE vec_id < 10),
        cands AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM q JOIN banded c
              ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id
        ),
        sims AS (
            SELECT query_id, neighbor_id,
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = neighbor_id
        )
        -- rank on the 6dp-rounded value (round-before-rank), output the
        -- 4dp-rounded RAW (double-rounding midpoint hazard)
        SELECT query_id, neighbor_id, round(raw, 4) AS cosine FROM (
            SELECT query_id, neighbor_id, raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(raw, 6) DESC, neighbor_id ASC) AS rn
            FROM sims
        ) WHERE rn <= {k}
    """


def _ann_pq_sql(
    k: int = 5, m: int = 4, ksub: int = 16, dim: int = 64, rerank: int = 20
) -> str:
    """SQL replica of ``q_ann_pq_topk`` (``ann.pq_topk`` in parity mode).

    The fixed codebooks (``ann.pq_fixed_codebooks``, 6dp doubles) are
    inlined as a VALUES table; encoding is argmin over 6dp-rounded expanded
    L2² per subspace (argmin via min over fixed-width printf-encoded
    (d2, c) strings — lexicographic == numeric for the fixed width, and the
    string tie-break picks the lowest code exactly like ``np.argmin``);
    ADC distance is the 6dp-rounded sum of 6dp LUT entries; the rerank cut
    orders (adist, neighbor_id); the exact-cosine rerank is the same
    round-before-rank/4dp-raw-output recipe as the other ANN oracles."""
    from .operators.ann import pq_fixed_codebooks

    dsub = dim // m
    books = pq_fixed_codebooks(m=m, ksub=ksub, dsub=dsub)
    rows = ",\n            ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(ksub)
    )
    return f"""
        WITH book(j, c, cv) AS (VALUES
            {rows}
        ),
        corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        subv AS (
            SELECT vec_id, j, list_slice(v, j*{dsub}+1, (j+1)*{dsub}) AS sv
            FROM corpus, (SELECT unnest(range({m})) AS j)
        ),
        codes AS (
            SELECT vec_id, s.j,
                   right(min(printf('%013.6f|%02d',
                                    round(list_dot_product(sv, sv)
                                          - 2*list_dot_product(sv, b.cv)
                                          + list_dot_product(b.cv, b.cv), 6),
                                    b.c)), 2)::INT AS code
            FROM subv s JOIN book b ON b.j = s.j
            GROUP BY 1, 2
        ),
        luts AS (
            SELECT q.vec_id AS query_id, b.j, b.c,
                   round(-2*list_dot_product(
                             list_slice(q.v, b.j*{dsub}+1, (b.j+1)*{dsub}), b.cv)
                         + list_dot_product(b.cv, b.cv), 6) AS lut
            FROM (SELECT * FROM corpus WHERE vec_id < 10) q JOIN book b ON true
        ),
        adist AS (
            SELECT l.query_id, c.vec_id AS neighbor_id,
                   round(sum(l.lut), 6) AS adist
            FROM codes c JOIN luts l ON l.j = c.j AND l.c = c.code
            WHERE l.query_id <> c.vec_id
            GROUP BY 1, 2
        ),
        cands AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY adist ASC, neighbor_id ASC) AS arn
                FROM adist
            ) WHERE arn <= {rerank}
        ),
        sims AS (
            SELECT query_id, neighbor_id,
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = neighbor_id
        )
        SELECT query_id, neighbor_id, round(raw, 4) AS cosine FROM (
            SELECT query_id, neighbor_id, raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(raw, 6) DESC, neighbor_id ASC) AS rn
            FROM sims
        ) WHERE rn <= {k}
    """


def _ann_ivf_sql(
    k: int = 5, n_lists: int = 8, n_probe: int = 3, dim: int = 64
) -> str:
    """SQL replica of ``q_ann_ivf_topk`` (``ann.ivf_topk`` in parity mode).

    The fixed centroids (``ann.ivf_fixed_centroids``, 6dp doubles) are
    inlined as a VALUES table; corpus→list assignment is argmin over
    6dp-rounded expanded L2² (argmin via min over fixed-width
    printf-encoded (d2, lid) strings, ties → lowest lid, exactly like
    ``np.argmin``); the query probe cut ranks (6dp d2, lid); candidates
    come only from probed lists; the exact-cosine rerank is the shared
    round-before-rank / 4dp-raw-output recipe."""
    from .operators.ann import ivf_fixed_centroids

    cents = ivf_fixed_centroids(n_lists=n_lists, dim=dim)
    rows = ",\n            ".join(
        f"({lid}, [{', '.join(repr(float(x)) for x in cents[lid])}]::DOUBLE[])"
        for lid in range(n_lists)
    )
    return f"""
        WITH cent(lid, cv) AS (VALUES
            {rows}
        ),
        corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
            SELECT vec_id,
                   right(min(printf('%013.6f|%02d',
                                    round(list_dot_product(v, v)
                                          - 2*list_dot_product(v, c.cv)
                                          + list_dot_product(c.cv, c.cv), 6),
                                    c.lid)), 2)::INT AS lid
            FROM corpus JOIN cent c ON true
            GROUP BY 1
        ),
        probes AS (
            SELECT vec_id AS query_id, lid FROM (
                SELECT q.vec_id, c.lid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_dot_product(q.v, q.v)
                                          - 2*list_dot_product(q.v, c.cv)
                                          + list_dot_product(c.cv, c.cv), 6) ASC,
                                    c.lid ASC) AS pr
                FROM (SELECT * FROM corpus WHERE vec_id < 10) q
                JOIN cent c ON true
            ) WHERE pr <= {n_probe}
        ),
        cands AS (
            SELECT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assigned a ON a.lid = p.lid
            WHERE p.query_id <> a.vec_id
        ),
        sims AS (
            SELECT query_id, neighbor_id,
                   list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS raw
            FROM cands
            JOIN embeddings a ON a.vec_id = query_id
            JOIN embeddings b ON b.vec_id = neighbor_id
        )
        SELECT query_id, neighbor_id, round(raw, 4) AS cosine FROM (
            SELECT query_id, neighbor_id, raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(raw, 6) DESC, neighbor_id ASC) AS rn
            FROM sims
        ) WHERE rn <= {k}
    """


def _semantic_dedup_sql(
    threshold: float = 0.35, n_clusters: int = 16, dim: int = 64
) -> str:
    """SQL replica of ``q_semantic_dedup`` (``dedup.semantic_dedup``).

    The fixed centroids (``ann.ivf_fixed_centroids``, 6dp doubles) are
    inlined as a VALUES table; vector→cluster assignment is argmin over
    6dp-rounded expanded L2² (min over fixed-width printf-encoded
    (d2, lid) strings, ties → lowest cluster id, exactly like
    ``np.argmin``); the screening order and the drop threshold both use
    6dp-rounded cosines (round-before-rank / round-before-threshold); the
    output centroid similarity rounds the RAW value to 4dp."""
    from .operators.ann import ivf_fixed_centroids

    cents = ivf_fixed_centroids(n_lists=n_clusters, dim=dim)
    rows = ",\n            ".join(
        f"({lid}, [{', '.join(repr(float(x)) for x in cents[lid])}]::DOUBLE[])"
        for lid in range(n_clusters)
    )
    return f"""
        WITH cent(lid, cv) AS (VALUES
            {rows}
        ),
        corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
            SELECT vec_id,
                   right(min(printf('%013.6f|%02d',
                                    round(list_dot_product(v, v)
                                          - 2*list_dot_product(v, c.cv)
                                          + list_dot_product(c.cv, c.cv), 6),
                                    c.lid)), 2)::INT AS cluster_id
            FROM corpus JOIN cent c ON true
            GROUP BY 1
        ),
        ranked AS (
            SELECT a.vec_id, a.cluster_id, raw, round(raw, 6) AS sim6
            FROM (
                SELECT a.vec_id, a.cluster_id,
                       list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))) AS raw
                FROM assigned a
                JOIN corpus e ON e.vec_id = a.vec_id
                JOIN cent c ON c.lid = a.cluster_id
            ) a
        ),
        dropped AS (
            SELECT DISTINCT r.vec_id
            FROM ranked l
            JOIN ranked r ON l.cluster_id = r.cluster_id
             AND (l.sim6 > r.sim6 OR (l.sim6 = r.sim6 AND l.vec_id < r.vec_id))
            JOIN corpus a ON a.vec_id = l.vec_id
            JOIN corpus b ON b.vec_id = r.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
        )
        SELECT s.vec_id, s.cluster_id, round(s.raw, 4) AS centroid_sim,
               d.vec_id IS NULL AS keep
        FROM ranked s LEFT JOIN dropped d ON d.vec_id = s.vec_id
    """


def _pii_sql() -> str:
    """SQL replica of ``q_pii_scan``: the marker-planting CASE chain mirrors
    the Spark ``when`` chain, and the regex literals are the very constants
    ``operators.webtext`` uses (patterns chosen to parse identically under
    Java regex and RE2 — see ``PII_EMAIL`` et al.)."""
    from .operators.webtext import PII_EMAIL, PII_IPV4, PII_PHONE

    return f"""
        WITH aug AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                      ELSE '' END
              || CASE WHEN doc_id % 11 = 0
                      THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.'
                           || (doc_id % 100)::VARCHAR
                      ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                      THEN ' call 555-867-5309' ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{PII_EMAIL}'))::BIGINT AS n_emails,
               len(regexp_extract_all(text, '{PII_IPV4}'))::BIGINT AS n_ipv4,
               len(regexp_extract_all(text, '{PII_PHONE}'))::BIGINT AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
        FROM aug
    """


# Recursive-CTE transitive closure → (record_id, component_id), the same
# fragment the connected_components oracle inlines (kept verbatim there).
_CC_ASSIGN_SQL = f"""
    {_EDGES_SQL},
    pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
    bi AS (SELECT id1 AS src, id2 AS dst FROM pruned
           UNION SELECT id2, id1 FROM pruned),
    reach(src, dst) AS (
        SELECT src, dst FROM bi
        UNION
        SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
    ),
    mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
    cc_assign AS (
        SELECT d.doc_id AS record_id,
               least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component_id
        FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
    )
"""


def _klsh_lloyd_sql(k: int = 4, iters: int = 5) -> str:
    """SQL replica of ``q_klsh_lloyd``: CC closure → per-component z-score +
    quarter-circle features (6dp) → hash-seeded centroids → ``iters``
    unrolled Lloyd rounds.  The nearest-centroid argmin is a string-encoded
    ``min(printf(dist6) || printf(cid))`` (same fixed-width trick as the
    winnowing oracle) — ties at equal 6dp distance break on the lowest cid,
    exactly like the Spark ``min(struct(dist6, cid))``."""
    hp = repr(HALF_PI)
    dist = ("round((f1-c1)*(f1-c1) + (f2-c2)*(f2-c2) + (f3-c3)*(f3-c3), 6)")
    argmin = (
        f"substr(min(printf('%020.6f', {dist}) || printf('%05d', cid)), 21, 5)::int"
    )
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
        asg{t} AS (
            SELECT component_id, record_id, f1, f2, f3, {argmin} AS cid
            FROM pts JOIN cent{t - 1} USING (component_id)
            GROUP BY 1, 2, 3, 4, 5
        ),
        cent{t} AS (
            SELECT component_id, cid,
                   round(avg(f1), 6) AS c1,
                   round(avg(f2), 6) AS c2,
                   round(avg(f3), 6) AS c3
            FROM asg{t} GROUP BY 1, 2
        )""")
    return f"""
        WITH RECURSIVE {_CC_ASSIGN_SQL},
        recs AS (
            SELECT a.component_id, a.record_id, d.n_chars
            FROM cc_assign a JOIN documents d ON d.doc_id = a.record_id
        ),
        stats AS (
            SELECT component_id, avg(n_chars) AS mu,
                   avg(n_chars::bigint * n_chars) AS musq
            FROM recs GROUP BY 1
        ),
        pts AS (
            SELECT r.component_id, r.record_id,
                   round(CASE WHEN (musq - mu * mu) > 0
                              THEN (n_chars - mu) / sqrt(musq - mu * mu)
                              ELSE 0.0 END, 6) AS f1,
                   round(cos((n_chars % 10) / 9.0 * {hp}), 6) AS f2,
                   round(sin((n_chars % 10) / 9.0 * {hp}), 6) AS f3
            FROM recs r JOIN stats USING (component_id)
        ),
        seeds AS (
            SELECT component_id, record_id, f1, f2, f3,
                   row_number() OVER (PARTITION BY component_id
                                      ORDER BY md5(record_id::varchar), record_id) AS cid
            FROM pts
        ),
        cent0 AS (
            SELECT component_id, cid, f1 AS c1, f2 AS c2, f3 AS c3
            FROM seeds WHERE cid <= {k}
        ),
        {",".join(steps)},
        final AS (
            SELECT component_id, record_id, {argmin} AS cid
            FROM pts JOIN cent{iters} USING (component_id)
            GROUP BY 1, 2, f1, f2, f3
        )
        SELECT component_id, record_id, cid::bigint AS cluster_id FROM final
    """


def _encoder_forward_sql() -> str:
    """SQL replica of ``q_encoder_forward``: the reduced encoder's weights
    (data-independent constants from ``ml.encoder.reduced_init_weights``)
    are inlined as literals via ``repr`` — the same shared-literal technique
    as the SRP hyperplane oracles — and each layer is an unrolled
    multiply-add chain with ``greatest(x, 0.0)`` ReLU."""
    from .ml.encoder import TOWERS, reduced_init_weights

    w = reduced_init_weights()
    hp = repr(HALF_PI)

    def lin(in_names: list[str], W, b, relu: bool, prefix: str) -> tuple[str, list[str]]:
        exprs, names = [], []
        for j in range(W.shape[1]):
            terms = " + ".join(
                f"{x} * {float(W[i, j])!r}" for i, x in enumerate(in_names)
            )
            e = f"({terms} + {float(b[j])!r})"
            if relu:
                e = f"greatest({e}, 0.0)"
            exprs.append(f"{e} AS {prefix}{j}")
            names.append(f"{prefix}{j}")
        return ",\n                   ".join(exprs), names

    x = [f"x{i}" for i in range(8)]
    towers_in = {"quality": x[0:2], "resonance": x[2:3],
                 "tension": x[3:6], "longevity": x[6:8]}
    l1_exprs, l1_names, l2_exprs, l2_names = [], {}, [], []
    for name in TOWERS:
        e, n = lin(towers_in[name], w[f"{name}_w1"], w[f"{name}_b1"], True, f"{name}_a")
        l1_exprs.append(e)
        l1_names[name] = n
    for name in TOWERS:
        e, n = lin(l1_names[name], w[f"{name}_w2"], w[f"{name}_b2"], True, f"{name}_b")
        l2_exprs.append(e)
        l2_names.extend(n)
    h_exprs, h_names = lin(l2_names, w["head_w1"], w["head_b1"], True, "h")
    e_exprs, e_names = lin(h_names, w["head_w2"], w["head_b2"], False, "e")
    nm = " + ".join(f"{e} * {e}" for e in e_names)
    outs = ", ".join(f"round({e} / nm, 4) AS e{j}" for j, e in enumerate(e_names))
    return f"""
        WITH f AS (
            SELECT doc_id,
                   round(cos((n_chars % 10) / 9.0 * {hp}), 6) AS x0,
                   round(sin((n_chars % 10) / 9.0 * {hp}), 6) AS x1,
                   round(n_chars / 500.0, 6) AS x2,
                   round((doc_id % 7) / 7.0, 6) AS x3,
                   CASE WHEN n_chars % 2 = 0 THEN 1.0 ELSE 0.0 END AS x4,
                   CASE WHEN n_chars % 2 = 0 THEN 0.0 ELSE 1.0 END AS x5,
                   round(cos((doc_id % 12) / 11.0 * {hp}), 6) AS x6,
                   round(sin((doc_id % 12) / 11.0 * {hp}), 6) AS x7
            FROM documents
        ),
        l1 AS (SELECT doc_id, {",".join(l1_exprs)} FROM f),
        l2 AS (SELECT doc_id, {",".join(l2_exprs)} FROM l1),
        hh AS (SELECT doc_id, {h_exprs} FROM l2),
        ee AS (SELECT doc_id, {e_exprs} FROM hh),
        nn AS (
            SELECT doc_id, {", ".join(e_names)},
                   CASE WHEN sqrt({nm}) = 0 THEN 1.0 ELSE sqrt({nm}) END AS nm
            FROM ee
        )
        SELECT doc_id, {outs} FROM nn
    """


# TF-IDF cosine of the pruned pairs (tfidf_cosine; score_histogram bins it).
_TFIDF_COSINE_SQL = f"""
    WITH {_EDGES_SQL},
    pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
    terms AS (
        SELECT doc_id AS id, unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+')) AS term
        FROM documents
    ),
    tf AS (SELECT id, term AS term_key, count(*) AS tf
           FROM terms WHERE term <> '' GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    idf AS (SELECT term_key,
                   ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + count(DISTINCT id))) + 1.0 AS idf
            FROM tf GROUP BY 1),
    wts AS (SELECT tf.id, tf.term_key, tf.tf * idf.idf AS w
            FROM tf JOIN idf USING (term_key)),
    nrm AS (SELECT id, sqrt(sum(w * w)) AS nm FROM wts GROUP BY 1),
    vec AS (SELECT wts.id, term_key, w / nm AS w FROM wts JOIN nrm USING (id)),
    dots AS (
        SELECT p.id1, p.id2, sum(v1.w * v2.w) AS dot
        FROM pruned p
        JOIN vec v1 ON v1.id = p.id1
        JOIN vec v2 ON v2.id = p.id2 AND v1.term_key = v2.term_key
        GROUP BY 1, 2
    )
    SELECT p.id1, p.id2, round(coalesce(d.dot, 0.0), 6) AS tfidf_cosine
    FROM pruned p LEFT JOIN dots d ON d.id1 = p.id1 AND d.id2 = p.id2
"""


def oracle_sql() -> dict[str, str]:
    return {
        "blocking_keys": _BLOCKS_SQL,
        "block_sizes": f"WITH blocks AS ({_BLOCKS_SQL}) "
        "SELECT block_key, count(*) AS block_size FROM blocks GROUP BY 1",
        "candidate_pairs": f"WITH blocks AS ({_BLOCKS_SQL}) "
        "SELECT DISTINCT l.record_id AS id1, r.record_id AS id2 "
        "FROM blocks l JOIN blocks r ON l.block_key = r.block_key "
        "AND l.record_id < r.record_id",
        "edge_weights": f"WITH {_EDGES_SQL} SELECT id1, id2, weight FROM edges",
        "edge_provenance": f"""
            WITH blocks AS ({_BLOCKS_SQL})
            SELECT l.record_id AS id1, r.record_id AS id2,
                   string_agg(l.block_key, ',' ORDER BY l.block_key) AS provenance
            FROM blocks l JOIN blocks r
              ON l.block_key = r.block_key AND l.record_id < r.record_id
            GROUP BY 1, 2
        """,
        "pruned_edges": f"WITH {_EDGES_SQL} "
        "SELECT id1, id2, weight FROM edges WHERE weight > 1.5",
        "connected_components": f"""
            WITH RECURSIVE {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            bi AS (SELECT id1 AS src, id2 AS dst FROM pruned
                   UNION SELECT id2, id1 FROM pruned),
            reach(src, dst) AS (
                SELECT src, dst FROM bi
                UNION
                SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
            ),
            mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1)
            SELECT d.doc_id AS record_id,
                   least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component_id
            FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
        """,
        "component_sizes": f"""
            WITH RECURSIVE {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            bi AS (SELECT id1 AS src, id2 AS dst FROM pruned
                   UNION SELECT id2, id1 FROM pruned),
            reach(src, dst) AS (
                SELECT src, dst FROM bi
                UNION
                SELECT r.src, e.dst FROM reach r JOIN bi e ON r.dst = e.src
            ),
            mins AS (SELECT src, min(dst) AS mn FROM reach GROUP BY 1),
            assign AS (
                SELECT d.doc_id AS record_id,
                       least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component_id
                FROM documents d LEFT JOIN mins m ON d.doc_id = m.src
            )
            SELECT component_id, count(*) AS n_records FROM assign GROUP BY 1
        """,
        "exact_dedup": """
            SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS fp,
                   count(*) AS dup_count, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY 1
        """,
        "token_jaccard": f"""
            WITH {_EDGES_SQL},
            {_NE_TOKENS_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            inter AS (
                SELECT p.id1, p.id2, count(*) AS isect
                FROM pruned p
                JOIN tok t1 ON t1.doc_id = p.id1
                JOIN tok t2 ON t2.doc_id = p.id2 AND t1.tok = t2.tok
                GROUP BY 1, 2
            )
            SELECT p.id1, p.id2,
                   round(coalesce(i.isect, 0)::double
                         / (s1.n_tok + s2.n_tok - coalesce(i.isect, 0)), 6) AS jaccard
            FROM pruned p
            LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
            JOIN ne_toksz s1 ON s1.doc_id = p.id1
            JOIN ne_toksz s2 ON s2.doc_id = p.id2
        """,
        "minhash_signatures": _SIG_SQL,
        "minhash_band_candidates": f"""
            WITH sig AS ({_SIG_SQL}),
            banded AS (
                SELECT doc_id, 0 AS band, h0::varchar || '_' || h1::varchar AS bucket FROM sig
                UNION ALL
                SELECT doc_id, 1, h2::varchar || '_' || h3::varchar FROM sig
                UNION ALL
                SELECT doc_id, 2, h4::varchar || '_' || h5::varchar FROM sig
                UNION ALL
                SELECT doc_id, 3, h6::varchar || '_' || h7::varchar FROM sig
            )
            SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        """,
        "text_stats": """
            WITH tok AS (
                SELECT doc_id, string_split_regex(text, '[ \\t\\n\\r\\f]+') AS toks FROM documents
            )
            SELECT d.doc_id,
                   len(list_filter(t.toks, x -> x <> '')) AS n_tokens,
                   len(list_distinct(list_filter(t.toks, x -> x <> ''))) AS n_distinct,
                   length(d.text) AS n_len,
                   round(
                     len(list_filter(string_split_regex(lower(d.text), '[ \\t\\n\\r\\f]+'),
                         x -> x IN ('the','and','of','to','in','is','that','for','with','was')))::double
                     / greatest(len(list_filter(string_split_regex(lower(d.text), '[ \\t\\n\\r\\f]+'), x -> x <> '')), 1),
                     6) AS stopword_ratio
            FROM documents d JOIN tok t ON d.doc_id = t.doc_id
        """,
        "top_tokens": """
            SELECT token, count(*)::bigint AS n
            FROM (
                SELECT unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 50
        """,
        "topk_per_group": """
            SELECT lang, doc_id, n_chars, rn FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM documents
            ) WHERE rn <= 3
        """,
        "date_keys": """
            SELECT event_id, date_key FROM (
                SELECT event_id, unnest([
                    'my_' || strftime(ts, '%m') || '_' || year(ts)::varchar
                          || '_dy_' || strftime(ts, '%d') || '_' || year(ts)::varchar,
                    'my_' || strftime(ts, '%m') || '_' || year(ts)::varchar
                          || '_dm_' || strftime(ts, '%d') || '_' || strftime(ts, '%m'),
                    'my_' || strftime(ts, '%d') || '_' || year(ts)::varchar
                          || '_dm_' || strftime(ts, '%d') || '_' || strftime(ts, '%m')
                ]) AS date_key
                FROM events
            )
            UNION ALL
            SELECT event_id,
                   (date_diff('day', DATE '1970-01-01', ts::date) // 7)::varchar AS date_key
            FROM events
        """,
        "windowed_event_counts": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
            sims AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS raw
                FROM q JOIN embeddings e ON q.vec_id <> e.vec_id
            )
            -- rank on 6dp (round-before-rank), output 4dp of RAW
            SELECT query_id, neighbor_id, round(raw, 4) AS cosine FROM (
                SELECT query_id, neighbor_id, raw,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY round(raw, 6) DESC, neighbor_id ASC) AS rn
                FROM sims
            ) WHERE rn <= 5
        """,
        "levenshtein_pairs": f"""
            WITH {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            t AS (SELECT doc_id, {_TITLE_SQL} AS title FROM documents)
            SELECT p.id1, p.id2, levenshtein(t1.title, t2.title) AS lev
            FROM pruned p JOIN t t1 ON t1.doc_id = p.id1
                          JOIN t t2 ON t2.doc_id = p.id2
        """,
        "ngram_jaccard": f"""
            WITH {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            sh AS (
                SELECT DISTINCT doc_id AS id, substr(text, i, 3) AS shingle
                FROM (
                    SELECT doc_id, text,
                           unnest(generate_series(1, greatest(length(text) - 2, 1))) AS i
                    FROM documents
                )
                WHERE length(substr(text, i, 3)) > 0
            ),
            sz AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
                SELECT p.id1, p.id2, count(*) AS isect
                FROM pruned p
                JOIN sh s1 ON s1.id = p.id1
                JOIN sh s2 ON s2.id = p.id2 AND s1.shingle = s2.shingle
                GROUP BY 1, 2
            )
            SELECT p.id1, p.id2,
                   round(coalesce(i.isect, 0)::double
                         / (z1.n_sh + z2.n_sh - coalesce(i.isect, 0)), 6) AS ngram_jaccard
            FROM pruned p
            LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
            JOIN sz z1 ON z1.id = p.id1
            JOIN sz z2 ON z2.id = p.id2
        """,
        "minhash_jaccard_est": f"""
            WITH {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 1.5),
            sig AS ({_SIG_SQL})
            SELECT p.id1, p.id2,
                   (({" + ".join(f"(a.h{i} = b.h{i})::int" for i in range(8))})::double / 8.0)
                   AS jaccard_est
            FROM pruned p JOIN sig a ON a.doc_id = p.id1
                          JOIN sig b ON b.doc_id = p.id2
        """,
        "tfidf_cosine": _TFIDF_COSINE_SQL,
        "quality_score": """
            WITH s AS (
                SELECT doc_id, text, length(text) AS n,
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                           x -> x IN ('the','and','of','to','in','is','that','for','with','was')))::double
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                      x -> x <> '')), 1) AS sw_ratio
                FROM documents
            )
            SELECT doc_id,
                   round((least(n / 500.0, 1.0)
                          + (1.0 - least(punct_ratio * 4.0, 1.0))
                          + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
            FROM s
        """,
        "lang_guess": """
            WITH toks AS (
                SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'), x -> x <> '') AS t
                FROM documents
            ),
            scores AS (
                SELECT doc_id, lang, score FROM (
                    SELECT doc_id, 'de' AS lang,
                           len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','von','zu'))) AS score FROM toks
                    UNION ALL
                    SELECT doc_id, 'en',
                           len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) FROM toks
                    UNION ALL
                    SELECT doc_id, 'es',
                           len(list_filter(t, x -> x IN ('el','la','de','que','los','una','con','por','para','es'))) FROM toks
                    UNION ALL
                    SELECT doc_id, 'fr',
                           len(list_filter(t, x -> x IN ('le','la','et','les','des','est','pas','une','dans','que'))) FROM toks
                )
            ),
            best AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
                FROM scores
            )
            SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
            FROM best WHERE rn = 1
        """,
        "feature_embed": """
            SELECT doc_id,
                   round(cos((n_chars % 10) / 9.0 * pi() / 2.0), 6) AS ord_cos,
                   round(sin((n_chars % 10) / 9.0 * pi() / 2.0), 6) AS ord_sin,
                   CASE WHEN n_chars % 2 = 0 THEN 1.0 ELSE 0.0 END AS bool_cos,
                   CASE WHEN n_chars % 2 = 0 THEN 0.0 ELSE 1.0 END AS bool_sin
            FROM documents
        """,
        "simhash_near_pairs": _simhash_sql(max_hamming=3),
        "klsh_lloyd": _klsh_lloyd_sql(k=4, iters=5),
        "encoder_forward": _encoder_forward_sql(),
        "lang_pivot": f"""
            SELECT source,
                   {", ".join(f"count(*) FILTER (lang = '{lang}') AS n_{lang}"
                              for lang in _PIVOT_LANGS)},
                   sum(n_chars)::bigint AS total_chars
            FROM documents GROUP BY source
        """,
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "purchasers_with_errors": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "dedup_keep_list": _keep_list_sql(jaccard_threshold=0.8),
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_pq_topk": _ann_pq_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "contamination_check": r"""
            WITH lst AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ),
            idx AS (
                SELECT doc_id, toks,
                       unnest(range(1, greatest(len(toks) - 2, 1))) AS i
                FROM lst
            ),
            grams AS (
                SELECT DISTINCT doc_id,
                       md5(array_to_string(toks[i:i+3], ' ')) AS gram
                FROM idx
            ),
            tg AS (SELECT * FROM grams WHERE doc_id % 31 <> 0),
            bg AS (SELECT doc_id AS bench_doc_id, gram
                   FROM grams WHERE doc_id % 31 = 0)
            SELECT tg.doc_id,
                   count(DISTINCT tg.gram) AS n_contaminated_grams,
                   count(DISTINCT bench_doc_id) AS n_bench_docs
            FROM tg JOIN bg USING (gram)
            GROUP BY 1
        """,
        "pii_scan": _pii_sql(),
        "hll_distinct_tokens": _hll_sql(),
        "pack_sequences": r"""
            WITH d AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                     t -> t <> ''))::BIGINT AS n_tokens,
                     ('0x' || substr(md5('pack-v1:' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS h
              FROM documents
            ),
            sh AS (SELECT doc_id, n_tokens, (h % 8)::INT AS shard, h FROM d),
            pre AS (
              SELECT doc_id, n_tokens, shard,
                     coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS p
              FROM sh
            )
            SELECT doc_id, n_tokens, shard, (p // 512)::BIGINT AS pack_id
            FROM pre
        """,
        "packed_corpus": r"""
            WITH d AS (
              SELECT doc_id, text,
                     len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                     t -> t <> ''))::BIGINT AS n_tokens,
                     ('0x' || substr(md5('pack-v1:' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS h
              FROM documents
            ),
            sh AS (
              SELECT doc_id, text, n_tokens, (h % 8)::INT AS shard, h FROM d
            ),
            pre AS (
              SELECT doc_id, text, n_tokens, shard, h,
                     coalesce(sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS p
              FROM sh
            )
            SELECT shard, (p // 512)::BIGINT AS pack_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   md5(string_agg(text, chr(10) || chr(10)
                                  ORDER BY h, doc_id)) AS text_md5
            FROM pre GROUP BY 1, 2
        """,
        "dup_spans": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                 t -> t <> '') AS toks
              FROM documents
            ),
            pos AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+7], ' ')) AS gram_md5
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) r
              WHERE len(toks) >= 8
            ),
            dup AS (
              SELECT gram_md5 FROM pos
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
              SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram_md5)
            ),
            isl AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY pos) AS island
              FROM cov
            )
            SELECT doc_id, min(pos)::BIGINT AS start_tok,
                   (max(pos) + 7)::BIGINT AS end_tok,
                   count(*)::BIGINT AS n_grams
            FROM isl GROUP BY doc_id, island
        """,
        "dup_spans_exact": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                 t -> t <> '') AS toks
              FROM documents
            ),
            pos AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+7], ' ')) AS gram_md5
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) r
              WHERE len(toks) >= 8
            ),
            dup AS (
              SELECT gram_md5 FROM pos
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
              SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram_md5)
            ),
            pos2 AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+8], ' ')) AS g2
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(toks) - 7)) AS i) r
              WHERE len(toks) >= 9
            ),
            dup2 AS (
              SELECT g2 FROM pos2
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            linked AS (
              SELECT p.doc_id, p.pos, TRUE AS lk
              FROM pos2 p JOIN dup2 USING (g2)
            ),
            cov2 AS (
              SELECT c.doc_id, c.pos, coalesce(l.lk, FALSE) AS lk
              FROM cov c
              LEFT JOIN linked l ON c.doc_id = l.doc_id AND c.pos = l.pos
            ),
            runs AS (
              SELECT doc_id, pos, lk,
                     CASE WHEN lag(pos) OVER w IS NULL
                            OR lag(pos) OVER w <> pos - 1
                            OR NOT lag(lk) OVER w
                          THEN 1 ELSE 0 END AS brk
              FROM cov2 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM runs
            )
            SELECT doc_id, min(pos)::BIGINT AS start_tok,
                   (max(pos) + 7)::BIGINT AS end_tok,
                   count(*)::BIGINT AS n_grams
            FROM isl GROUP BY doc_id, island
        """,
        "distinct_token_kmv": r"""
            WITH lst AS (
                SELECT list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ),
            tok AS (SELECT unnest(toks) AS tok FROM lst),
            h AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(tok), 1, 15))::BIGINT
                           / 1152921504606846976.0 AS h
                FROM tok
            ),
            kept AS (SELECT h FROM h ORDER BY h LIMIT 128)
            SELECT 128::BIGINT AS k, count(*)::BIGINT AS n_kept,
                   round(max(h), 6) AS kth_hash,
                   round(CASE WHEN count(*) >= 128 THEN 127 / max(h)
                              ELSE count(*)::DOUBLE END, 6) AS est_distinct
            FROM kept
        """,
        "url_dedup": _URL_DEDUP_SQL,
        "domain_stats": r"""
            WITH s AS (
                SELECT doc_id, length(text) AS n,
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                           x -> x IN ('the','and','of','to','in','is','that','for','with','was')))::double
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                      x -> x <> '')), 1) AS sw_ratio
                FROM documents
            ),
            qual AS (
                SELECT doc_id,
                       round(round((least(n / 500.0, 1.0)
                              + (1.0 - least(punct_ratio * 4.0, 1.0))
                              + least(sw_ratio * 5.0, 1.0)) / 3.0, 6)
                             * 1000000)::BIGINT AS q_micro
                FROM s
            ),
            ltoks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                   x -> x <> '') AS t
                FROM documents
            ),
            lscores AS (
                SELECT doc_id, lang, score FROM (
                    SELECT doc_id, 'de' AS lang,
                           len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','von','zu'))) AS score FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'en',
                           len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'es',
                           len(list_filter(t, x -> x IN ('el','la','de','que','los','una','con','por','para','es'))) FROM ltoks
                    UNION ALL
                    SELECT doc_id, 'fr',
                           len(list_filter(t, x -> x IN ('le','la','et','les','des','est','pas','une','dans','que'))) FROM ltoks
                )
            ),
            lang_best AS (
                SELECT doc_id,
                       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang
                FROM (SELECT doc_id, lang, score,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY score DESC,
                                                         lang DESC) AS rn
                      FROM lscores)
                WHERE rn = 1
            ),
            base AS (
                SELECT d.doc_id,
                       'site' || (d.doc_id % 40)::VARCHAR || '.example.com'
                         AS host,
                       len(list_filter(string_split_regex(d.text, '[ \t\n\r\f]+'),
                                       t -> t <> ''))::BIGINT AS n_tokens,
                       q.q_micro, lb.lang
                FROM documents d
                JOIN qual q USING (doc_id)
                JOIN lang_best lb USING (doc_id)
            ),
            per_lang AS (
                SELECT host, lang, count(*) AS n,
                       sum(n_tokens)::BIGINT AS tok,
                       sum(q_micro)::BIGINT AS qsum
                FROM base GROUP BY 1, 2
            )
            SELECT host, sum(n)::BIGINT AS n_docs,
                   sum(tok)::BIGINT AS total_tokens,
                   (sum(qsum)::BIGINT // sum(n)::BIGINT) AS mean_q_micro,
                   substr(min(printf('%010d', 100000000 - n)
                              || '|' || lang), 12) AS top_lang
            FROM per_lang GROUP BY 1
        """,
        "prepared_corpus": _prepared_corpus_sql(),
        "blocked_docs": r"""
            WITH hosts AS (
              SELECT doc_id,
                     'site' || (doc_id % 40)::VARCHAR || '.example.com'
                       AS host
              FROM documents
            ),
            sfx AS (
              SELECT doc_id, host, array_to_string(parts[i:], '.') AS sfx
              FROM (SELECT doc_id, host,
                           string_split(host, '.') AS parts FROM hosts),
                   LATERAL (SELECT unnest(range(1, len(parts))) AS i) r
            ),
            hits AS (
              SELECT * FROM sfx
              WHERE sfx IN ('site3.example.com', 'site17.example.com',
                            'site21.example.com')
            )
            SELECT doc_id, host,
                   max_by(sfx, length(sfx)) AS matched_domain
            FROM hits GROUP BY doc_id, host
        """,
        "training_mix": f"""
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5('mix-v1:' || doc_id::VARCHAR), 1, 15))
                    ::BIGINT
                  < CASE (regexp_extract(source, '(\\d+)', 1)::INT % 4)
                      WHEN 0 THEN {int(0.9 * (1 << 60))}
                      WHEN 1 THEN {int(0.5 * (1 << 60))}
                      WHEN 2 THEN {int(0.25 * (1 << 60))}
                      ELSE 0 END
        """,
        "crawl_snapshot": _CRAWL_SNAPSHOT_SQL,
        "crawl_diff": _CRAWL_DIFF_SQL,
        "boilerplate_strip": r"""
            WITH pages AS (
              SELECT doc_id, source,
                concat_ws(chr(10),
                  'Cookie notice for ' || source,
                  'Home | About | ' || source,
                  text,
                  CASE WHEN doc_id % 50 = 0
                       THEN 'Subscribe to our newsletter' END,
                  '(c) 2024 ' || source) AS page
              FROM documents
            ),
            lines AS (
              SELECT doc_id, source AS grp, i - 1 AS pos, l[i] AS line,
                     trim(l[i]) AS norm
              FROM (SELECT doc_id, source,
                           string_split(page, chr(10)) AS l FROM pages),
                   LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) r
            ),
            boiler AS (
              SELECT grp, norm FROM lines WHERE norm <> ''
              GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 5
            ),
            flagged AS (
              SELECT l.doc_id, l.pos, l.line,
                     (b.norm IS NOT NULL) AS is_boiler
              FROM lines l
              LEFT JOIN boiler b ON l.grp = b.grp AND l.norm = b.norm
            )
            SELECT doc_id, count(*)::BIGINT AS n_lines,
                   sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT
                     AS n_boiler,
                   md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                                FILTER (WHERE NOT is_boiler), ''))
                     AS cleaned_md5
            FROM flagged GROUP BY 1
        """,
        "lm_cross_entropy": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                 t -> t <> '') AS toks
              FROM documents
            ),
            inst AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM tok, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
              WHERE len(toks) >= 2
            ),
            c12 AS (SELECT w1, w2, count(*) AS c12 FROM inst GROUP BY 1, 2),
            c1 AS (SELECT w1, count(*) AS c1 FROM inst GROUP BY 1),
            v AS (
              SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(toks) AS w FROM tok)
            ),
            doc_big AS (
              SELECT doc_id, w1, w2, count(*) AS m FROM inst GROUP BY 1, 2, 3
            ),
            lp AS (
              SELECT doc_id, m,
                     round(ln((c12.c12 + 1)::DOUBLE / (c1.c1 + v.v))
                           * 1000000)::BIGINT AS lp_micro
              FROM doc_big
              JOIN c12 USING (w1, w2)
              JOIN c1 USING (w1)
              CROSS JOIN v
            )
            SELECT doc_id, sum(m)::BIGINT AS n_bigrams,
                   ((-sum(m * lp_micro))::BIGINT // sum(m)::BIGINT)
                     AS ce_micro
            FROM lp GROUP BY 1
        """,
        "soundex_keys": _soundex_sql(),
        "metaphone_keys": _metaphone_sql(),
        "winnow_fingerprints": _winnow_sql(k=5, window=4),
        "embedding_near_dups": _embedding_near_dups_sql(threshold=0.3),
        "event_rollup": """
            SELECT grouping(event_type)::bigint AS g_type,
                   grouping(hr)::bigint AS g_hr,
                   coalesce(event_type, 'ALL') AS event_type,
                   coalesce(hr, TIMESTAMP '1900-01-01 00:00:00') AS hr,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM (SELECT event_type, date_trunc('hour', ts) AS hr, value FROM events)
            GROUP BY ROLLUP(event_type, hr)
        """,
        "docs_without_edges": f"""
            WITH {_EDGES_SQL},
            pruned AS (SELECT id1, id2 FROM edges WHERE weight > 2.5),
            ids AS (SELECT id1 AS doc_id FROM pruned UNION SELECT id2 FROM pruned)
            SELECT d.doc_id, d.lang FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM ids i WHERE i.doc_id = d.doc_id)
        """,
        "user_sessions": """
            WITH o AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR date_diff('microsecond', lag(ts) OVER w, ts)
                                    > 1800000000
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
                SELECT user_id, value, ts,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)::bigint AS session_idx
                FROM o
            )
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round(sum(value), 4) AS sum_value
            FROM s GROUP BY 1, 2
        """,
        "score_histogram": f"""
            WITH scored AS ({_TFIDF_COSINE_SQL})
            SELECT least(floor(tfidf_cosine * 10), 9)::bigint AS bin,
                   count(*) AS n_pairs,
                   round(avg(tfidf_cosine), 6) AS mean_score
            FROM scored GROUP BY 1
        """,
        "two_stage_blocks": f"""
            SELECT DISTINCT doc_id AS record_id,
                   'initial_block-lang_exact:' || lower(lang) AS block_key
            FROM documents
            UNION
            SELECT DISTINCT doc_id AS record_id,
                   'initial_block-lang_exact:' || lower(lang)
                   || '-title_phonetic_combination:' || block_key AS block_key
            FROM (
                SELECT doc_id, lang, unnest([
                    substr(s, 1, 1),
                    substr(s, 1, 2),
                    substr(s, 1, 3),
                    substr(s, greatest(length(s) - 2, 1), 3),
                    regexp_replace(regexp_replace(s, '[^\\p{{L}}]', '', 'g'), '[aeiou]', '', 'g')
                ]) AS block_key
                FROM (SELECT doc_id, lang, lower({_TITLE_SQL}) AS s FROM documents)
            )
        """,
        "hash_date_features": """
            SELECT event_id,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%m') || '_' || strftime(ts, '%Y')), 1, 15))::bigint % 1000) / 1000.0, 6) AS my_feat,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%d') || '_' || strftime(ts, '%Y')), 1, 15))::bigint % 1000) / 1000.0, 6) AS dy_feat,
                round((('0x' || substr(md5('seed42_' || strftime(ts, '%d') || '_' || strftime(ts, '%m')), 1, 15))::bigint % 1000) / 1000.0, 6) AS dm_feat
            FROM events
        """,
        "iqr_outliers": """
            WITH q AS (
                SELECT quantile_cont(value, 0.15) AS lo_q, quantile_cont(value, 0.85) AS hi_q
                FROM events
            ),
            b AS (SELECT lo_q - 1.5 * (hi_q - lo_q) AS lo, hi_q + 1.5 * (hi_q - lo_q) AS hi FROM q)
            SELECT 'value' AS feature,
                   round(lo, 6) AS lower_bound,
                   round(hi, 6) AS upper_bound,
                   (SELECT count(*) FROM events, b WHERE value < lo OR value > hi)::bigint AS n_outliers
            FROM b
        """,
        "pair_auroc": """
            WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
            sp AS (
                SELECT round(
                         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS s,
                       (a.label = b.label)::int AS y
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            ),
            ranked AS (
                SELECT y,
                       rank() OVER (ORDER BY s) + (count(*) OVER (PARTITION BY s) - 1) / 2.0 AS r
                FROM sp
            )
            SELECT round(
                     (sum(r * y) - sum(y) * (sum(y) + 1) / 2.0)
                     / greatest(sum(y) * sum(1 - y), 1), 6) AS auroc
            FROM ranked
        """,
        "pair_threshold_metrics": """
            WITH e AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
            sp AS (
                SELECT round(
                         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS s,
                       (a.label = b.label)::int AS y
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            ),
            c AS (
                SELECT sum((s >= 0.5)::int * y) AS tp,
                       sum((s >= 0.5)::int * (1 - y)) AS fp,
                       sum((s < 0.5)::int * y) AS fn,
                       sum((s < 0.5)::int * (1 - y)) AS tn
                FROM sp
            )
            SELECT tp::bigint AS tp, fp::bigint AS fp, fn::bigint AS fn, tn::bigint AS tn,
                   round(tp / greatest(tp + fp, 1), 6) AS precision,
                   round(tp / greatest(tp + fn, 1), 6) AS recall,
                   round((tp + tn) / greatest(tp + fp + fn + tn, 1), 6) AS accuracy
            FROM c
        """,
        "repetition_signals": """
            WITH lst AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM lst
            ),
            tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
            per_doc AS (
                SELECT doc_id, sum(cnt)::bigint AS n_tokens,
                       count(*) AS n_distinct, max(cnt) AS top_token_count
                FROM tc GROUP BY 1
            ),
            bg AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            ),
            bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
            bdoc AS (
                SELECT doc_id, sum(cnt)::bigint AS n_bigrams,
                       sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::bigint AS dup_occ
                FROM bc GROUP BY 1
            )
            SELECT p.doc_id, p.n_tokens, p.n_distinct,
                   round(p.n_distinct / p.n_tokens, 6) AS distinct_ratio,
                   p.top_token_count,
                   round(p.top_token_count / p.n_tokens, 6) AS top_token_frac,
                   coalesce(b.n_bigrams, 0)::bigint AS n_bigrams,
                   round(coalesce(b.dup_occ, 0)
                         / greatest(coalesce(b.n_bigrams, 0), 1), 6)
                       AS dup_bigram_frac
            FROM per_doc p LEFT JOIN bdoc b USING (doc_id)
        """,
        "chunk_dups": """
            WITH lst AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'),
                                   t -> t <> '') AS toks
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM lst
            ),
            chunk AS (
                SELECT doc_id, (pos - 1) // 8 AS cid,
                       string_agg(tok, ' ' ORDER BY pos) AS chunk
                FROM tok GROUP BY 1, 2
            )
            SELECT md5(chunk) AS chunk_md5,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences,
                   min(doc_id) AS sample_doc_id
            FROM chunk GROUP BY 1
            HAVING count(DISTINCT doc_id) >= 2
        """,
        "purchase_attribution": """
            WITH u AS (
                SELECT user_id, ts, 1 AS is_l, event_id,
                       NULL::bigint AS r_click_id, NULL::timestamp AS r_ts
                FROM events WHERE event_type = 'purchase'
                UNION ALL
                SELECT user_id, ts, 0, NULL,
                       event_id, ts
                FROM events WHERE event_type = 'click'
            ),
            carried AS (
                SELECT user_id, ts, is_l, event_id,
                       last_value(r_click_id IGNORE NULLS) OVER w AS click_id0,
                       last_value(r_ts IGNORE NULLS) OVER w AS click_ts0
                FROM u
                WINDOW w AS (PARTITION BY user_id
                             ORDER BY ts, is_l, coalesce(r_click_id, -1)
                             ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_id, user_id, ts,
                   coalesce(click_id0, -1)::bigint AS click_id,
                   coalesce(click_ts0, TIMESTAMP '1900-01-01 00:00:00') AS click_ts,
                   coalesce(CASE WHEN click_id0 IS NOT NULL THEN
                            date_diff('microsecond', click_ts0, ts) END,
                            -1)::bigint AS micros_since_click
            FROM carried WHERE is_l = 1
        """,
        "error_nearby_views": """
            WITH errors AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'error'
            ),
            views AS (
                SELECT user_id, ts FROM events WHERE event_type = 'view'
            ),
            counts AS (
                SELECT e.event_id, count(*) AS n
                FROM errors e JOIN views v
                  ON e.user_id = v.user_id
                 AND abs(date_diff('microsecond', e.ts, v.ts)) <= 300000000
                GROUP BY 1
            )
            SELECT e.event_id, e.user_id, e.ts,
                   coalesce(c.n, 0)::bigint AS n_nearby_views
            FROM errors e LEFT JOIN counts c USING (event_id)
        """,
        "doc_filter": """
            WITH s AS (
                SELECT doc_id, length(text) AS n,
                       length(regexp_replace(text, '[^[:punct:]]', '', 'g'))::double
                           / greatest(length(text), 1) AS punct_ratio,
                       len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                           x -> x IN ('the','and','of','to','in','is','that','for','with','was')))::double
                           / greatest(len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'),
                                      x -> x <> '')), 1) AS sw_ratio
                FROM documents
            ),
            qual AS (
                SELECT doc_id,
                       round((least(n / 500.0, 1.0)
                              + (1.0 - least(punct_ratio * 4.0, 1.0))
                              + least(sw_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
                FROM s
            ),
            toks AS (
                SELECT doc_id, list_filter(string_split_regex(lower(text), '[ \\t\\n\\r\\f]+'), x -> x <> '') AS t
                FROM documents
            ),
            lscores AS (
                SELECT doc_id, lang, score FROM (
                    SELECT doc_id, 'de' AS lang,
                           len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','von','zu'))) AS score FROM toks
                    UNION ALL
                    SELECT doc_id, 'en',
                           len(list_filter(t, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) FROM toks
                    UNION ALL
                    SELECT doc_id, 'es',
                           len(list_filter(t, x -> x IN ('el','la','de','que','los','una','con','por','para','es'))) FROM toks
                    UNION ALL
                    SELECT doc_id, 'fr',
                           len(list_filter(t, x -> x IN ('le','la','et','les','des','est','pas','une','dans','que'))) FROM toks
                )
            ),
            lang_best AS (
                SELECT doc_id,
                       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
                FROM (SELECT doc_id, lang, score,
                             row_number() OVER (PARTITION BY doc_id
                                                ORDER BY score DESC, lang DESC) AS rn
                      FROM lscores)
                WHERE rn = 1
            ),
            lst AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), t -> t <> '') AS toks
                FROM documents
            ),
            tok AS (
                SELECT doc_id, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM lst
            ),
            tc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
            dr AS (
                SELECT doc_id, round(count(*) / sum(cnt)::bigint, 6) AS distinct_ratio
                FROM tc GROUP BY 1
            ),
            bg AS (
                SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                FROM tok a JOIN tok b
                  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            ),
            bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
            bdoc AS (
                SELECT doc_id,
                       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::bigint
                             / greatest(sum(cnt)::bigint, 1), 6) AS dup_bigram_frac
                FROM bc GROUP BY 1
            ),
            joined AS (
                SELECT q.doc_id, q.quality, dr.distinct_ratio,
                       coalesce(bdoc.dup_bigram_frac, 0.0) AS dup_bigram_frac,
                       lb.lang_pred
                FROM qual q
                JOIN dr USING (doc_id)
                LEFT JOIN bdoc USING (doc_id)
                JOIN lang_best lb USING (doc_id)
            )
            SELECT doc_id, quality, distinct_ratio, dup_bigram_frac, lang_pred,
                   (NOT (lang_pred = 'und' OR quality < 0.5
                         OR dup_bigram_frac > 0.12
                         OR distinct_ratio < 0.35))::bigint AS keep,
                   CASE WHEN lang_pred = 'und' THEN 'lang_unknown'
                        WHEN quality < 0.5 THEN 'low_quality'
                        WHEN dup_bigram_frac > 0.12 THEN 'repetitive'
                        WHEN distinct_ratio < 0.35 THEN 'low_diversity'
                        ELSE 'ok' END AS reason
            FROM joined
        """,
    }
