"""End-to-end entity-resolution pipeline over the pages table.

Stage graph (each stage a DataFrame; reference lifecycle ``manager.py:28-102``):

    pages (url, warc_ts, html, text, lang)
      └─ extract    → + record_id, text, title          (Arrow UDF, S1/S4)
      └─ block      → (record_id, block_key)            (B2/B5/B6 + purging)
      └─ edges      → (id1, id2, weight)                (G2/G3/G4)
      └─ prune      → weight > 1.5                      (G5)
      └─ cluster    → (record_id, component_id)         (G6 large/small-star)
      └─ evaluate   → P/R/F1 row                        (E1)

``record_id = xxhash64(url)`` — stable, shuffle-independent, 64-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import blocking, components, evaluate, pairs


@dataclass
class ERConfig:
    stages: list[blocking.BlockingStage] = field(
        default_factory=lambda: [blocking.BlockingStage("title", "phonetic_combination")]
    )
    prune_threshold: float = pairs.PRUNE_THRESHOLD
    max_block_size: int | None = 1000
    salt_buckets: int | None = None


def extract(pages: DataFrame) -> DataFrame:
    """Add record_id and re-derive text deterministically from html.

    Column pruning note: downstream stages must never carry ``html``; select
    narrow immediately after this stage.
    """
    return (
        pages.withColumn("record_id", F.xxhash64("url"))
        .withColumn("text", T.extract_text_udf(F.col("html")))
        .withColumn("title", T.title_of(F.col("text")))
    )


def stage_graph(
    pages: DataFrame,
    cfg: ERConfig,
    stage: Callable[[str, Callable[[], DataFrame]], DataFrame],
) -> DataFrame:
    """The ER stage graph, each stage built through ``stage(name, build)``.

    ``resolve`` passes a stage that just calls ``build``; a checkpointing
    run passes ``StageCheckpointer.stage`` so every stage is persisted and
    read back on restart.
    """
    recs = stage(
        "00_extract", lambda: extract(pages).select("record_id", "url", "title")
    )
    blocks = stage(
        "01_block",
        lambda: blocking.block(recs, cfg.stages, max_block_size=cfg.max_block_size),
    )
    edges = stage(
        "02_edges", lambda: pairs.edge_weights(blocks, salt_buckets=cfg.salt_buckets)
    )
    pruned = stage("03_pruned", lambda: pairs.prune(edges, cfg.prune_threshold))
    assignment = stage(
        "04_components",
        lambda: components.assign_components(
            recs.select("record_id"),
            pruned.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
        ),
    )
    return recs.select("record_id", "url").join(assignment, "record_id")


def resolve(pages: DataFrame, cfg: ERConfig | None = None) -> DataFrame:
    """pages → (record_id, url, component_id) entity assignment."""
    return stage_graph(pages, cfg or ERConfig(), lambda _name, build: build())


def score(
    pages: DataFrame,
    edges: DataFrame,
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
    vectors = S.tfidf_vectors(recs, id_col="record_id", text_col="text")
    out = S.tfidf_cosine_pairs(out, vectors)
    if match_threshold is not None:
        out = out.withColumn(
            "is_match_pred",
            (F.col("tfidf_cosine") >= F.lit(match_threshold)).cast("int"),
        )
    return out


def evaluate_against_truth(assignment: DataFrame, truth: DataFrame) -> DataFrame:
    """assignment (record_id, component_id) vs truth (url, entity_id) → P/R/F1,
    counted from cluster sizes (``evaluate.cluster_pair_metrics``)."""
    return evaluate.cluster_pair_metrics(
        assignment.select("record_id", F.col("component_id").alias("cluster")),
        truth.select(
            F.xxhash64("url").alias("record_id"), F.col("entity_id").alias("cluster")
        ),
    )
