"""End-to-end entity-resolution pipeline over the pages table.

Stage graph (each stage a DataFrame; reference lifecycle ``manager.py:28-102``):

    pages (url, warc_ts, html, text, lang)
      └─ extract    → + record_id, text, title          (Arrow UDF, S1/S4)
      └─ block      → (record_id, block_key)            (B2/B5/B6 + purging)
      └─ edges      → (id1, id2, weight[, provenance])  (G2/G3/G4)
      └─ prune      → weight > 1.5                      (G5)
      └─ cluster    → (record_id, component_id)         (G6 large/small-star)
      └─ evaluate   → P/R/F1 row                        (E1)

``record_id = xxhash64(url)`` — stable, shuffle-independent, 64-bit.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import blocking, components, evaluate, pairs


@dataclass
class ERConfig:
    title_feature: str = "title"
    stages: list[blocking.BlockingStage] = field(
        default_factory=lambda: [blocking.BlockingStage("title", "phonetic_combination")]
    )
    prune_threshold: float = pairs.PRUNE_THRESHOLD
    max_block_size: int | None = 1000
    with_provenance: bool = False
    salt_buckets: int | None = None


def extract(pages: DataFrame, re_extract: bool = True) -> DataFrame:
    """Add record_id and (re-)derive text deterministically from html.

    Column pruning note: downstream stages must never carry ``html``; select
    narrow immediately after this stage.
    """
    df = pages.withColumn("record_id", F.xxhash64("url"))
    if re_extract:
        df = df.withColumn("text", T.extract_text_udf(F.col("html")))
    return df.withColumn("title", T.title_of(F.col("text")))


def resolve(pages: DataFrame, cfg: ERConfig | None = None) -> DataFrame:
    """pages → (record_id, url, component_id) entity assignment."""
    cfg = cfg or ERConfig()
    recs = extract(pages).select("record_id", "url", "title")
    blocks = blocking.block(
        recs, cfg.stages, max_block_size=cfg.max_block_size
    )
    edges = pairs.edge_weights(
        blocks, with_provenance=cfg.with_provenance, salt_buckets=cfg.salt_buckets
    )
    pruned = pairs.prune(edges, cfg.prune_threshold)
    assignment = components.assign_components(
        recs.select("record_id"),
        pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    return recs.select("record_id", "url").join(assignment, "record_id")


def score(
    pages: DataFrame,
    edges: DataFrame,
    with_tfidf: bool = True,
    match_threshold: float | None = None,
) -> DataFrame:
    """Batched pairwise scoring of candidate pairs (SURVEY §7.0 `score`).

    Adds ``lev``, ``jaro_winkler`` on titles and ``tfidf_cosine`` on full
    text; never carries ``html`` (column pruning).  With ``match_threshold``
    adds the E5-style binary ``is_match_pred`` at sim ≥ threshold.
    """
    from ..functions import similarity as S

    recs = extract(pages).select("record_id", "title", "text")
    t1 = recs.select(
        F.col("record_id").alias("id1"),
        F.col("title").alias("title1"),
    )
    t2 = recs.select(
        F.col("record_id").alias("id2"),
        F.col("title").alias("title2"),
    )
    out = (
        edges.join(t1, "id1")
        .join(t2, "id2")
        .withColumn("lev", F.levenshtein("title1", "title2").cast("long"))
        .withColumn("jaro_winkler", S.jaro_winkler_udf(F.col("title1"), F.col("title2")))
        .drop("title1", "title2")
    )
    if with_tfidf:
        vectors = S.tfidf_vectors(recs, id_col="record_id", text_col="text")
        out = S.tfidf_cosine_pairs(out, vectors)
    if match_threshold is not None:
        out = out.withColumn(
            "is_match_pred",
            (F.col("tfidf_cosine") >= F.lit(match_threshold)).cast("int"),
        )
    return out


def encoder_similarity(
    pages: DataFrame, edges: DataFrame, weights=None, margin: float = 2.0
) -> DataFrame:
    """F9+F10: embed pages with the encoder UDF, score candidate pairs by
    ``clamp(1 - l2_dist/margin, 0, 1)`` on the L2-normalized embeddings.

    Page features feed the encoder's 8 inputs from cheap text statistics
    (all JVM expressions); the encoder itself runs as an Arrow-batched UDF
    with broadcast weights.  The reference's inference path (EP3) then
    ward-clusters embeddings driver-side (``ml.hierarchical``) — at scale the
    equivalent is thresholding this similarity + transitive closure (G6).
    """
    from ..functions import similarity as S
    from ..functions import text as T
    from ..ml import encoder as E

    recs = extract(pages)
    feats = recs.select(
        "record_id",
        F.cos(F.pmod(T.token_count(F.col("text")), F.lit(10)) / 9 * F.lit(math.pi / 2)).alias("quality_cos"),
        F.sin(F.pmod(T.token_count(F.col("text")), F.lit(10)) / 9 * F.lit(math.pi / 2)).alias("quality_sin"),
        (F.length("text") / 500.0).alias("resonance"),
        T.punct_ratio(F.col("text")).alias("tension"),
        F.when(F.pmod(F.length("title"), F.lit(2)) == 0, 1.0).otherwise(0.0).alias("tension_adj_cos"),
        F.when(F.pmod(F.length("title"), F.lit(2)) == 0, 0.0).otherwise(1.0).alias("tension_adj_sin"),
        F.cos(F.col("warc_ts").cast("double") / 2e9 * F.lit(math.pi / 2)).alias("longevity_cos"),
        F.sin(F.col("warc_ts").cast("double") / 2e9 * F.lit(math.pi / 2)).alias("longevity_sin"),
    )
    emb = E.embed_dataframe(feats, weights or E.init_weights())
    e1 = emb.select(F.col("record_id").alias("id1"), F.col("embedding").alias("emb1"))
    e2 = emb.select(F.col("record_id").alias("id2"), F.col("embedding").alias("emb2"))
    return (
        edges.join(e1, "id1")
        .join(e2, "id2")
        .withColumn("enc_dist", S.l2_distance(F.col("emb1"), F.col("emb2")))
        .withColumn("enc_sim", S.distance_to_similarity(F.col("enc_dist"), margin))
        .drop("emb1", "emb2")
    )


def evaluate_against_truth(assignment: DataFrame, truth: DataFrame) -> DataFrame:
    """assignment (record_id, component_id) vs truth (url, entity_id) → P/R/F1,
    counted from cluster sizes (``evaluate.cluster_pair_metrics``)."""
    return evaluate.cluster_pair_metrics(
        assignment.select("record_id", F.col("component_id").alias("cluster")),
        truth.select(
            F.xxhash64("url").alias("record_id"), F.col("entity_id").alias("cluster")
        ),
    )
