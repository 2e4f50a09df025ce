"""End-to-end web-text training-data pipeline plan.

Composes the engine's webtext operators into the standard Common-Crawl-style
preparation flow (CCNet / RefinedWeb / Lee et al. order of operations):

    raw crawl (url, warc_ts, doc_id, page)
      1. URL canonicalization + latest-snapshot compaction   (cheapest first)
      2. line-level boilerplate removal (per-site recurring lines)
      3. quality + language heuristics
      4. near-duplicate removal (exact + MinHash-LSH keep-list)
      5. deterministic stratified training-mix sampling

Each stage is a pure DataFrame transformation; the whole plan is one lazily
composed query with NO driver-side collects except the stratified sampler's
bounded distinct-strata listing done by the CALLER (rates are an input
here).  Stage order matters at scale: URL-level dedup drops re-crawls
before any tokenization, boilerplate removal shrinks text before hashing,
and the LSH keep-list runs on cleaned text so banners don't glue unrelated
pages into near-dup groups.

The stage boundary columns are stable (documented per function) so a
deployment can checkpoint between stages with plans/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..functions.text import lang_guess, quality_score
from ..functions.urls import canonical_url
from ..operators.dedup import dedup_keep_list
from ..operators.relational import latest_snapshot_per_key
from ..operators.sampling import hash_stratified_sample
from ..operators.webtext import strip_boilerplate


@dataclass
class WebtextConfig:
    boiler_min_docs: int = 5
    min_quality: float = 0.3
    keep_langs: tuple[str, ...] = ("en",)
    jaccard_threshold: float = 0.8
    mix_rates: dict[str, float] = field(default_factory=dict)
    mix_salt: str = "mix-v1"
    mix_default_rate: float = 1.0


def compact_crawl(pages: DataFrame) -> DataFrame:
    """Stage 1: (url, warc_ts, doc_id, source, page) → one newest snapshot
    per canonical URL, original columns re-attached to the kept row."""
    snaps = pages.select(
        canonical_url(F.col("url")).alias("canonical_url"),
        "warc_ts",
        "doc_id",
    )
    latest = latest_snapshot_per_key(
        snaps, "canonical_url", "warc_ts", "doc_id"
    ).select(
        "canonical_url",
        "n_versions",
        F.col("keep_doc_id").alias("doc_id"),
    )
    return latest.join(
        pages.select("doc_id", "source", "page"), "doc_id"
    )


def clean_pages(compacted: DataFrame, cfg: WebtextConfig) -> DataFrame:
    """Stage 2: strip per-site recurring lines; text = reassembled page."""
    out = strip_boilerplate(
        compacted.select("doc_id", "source", "page"),
        min_docs=cfg.boiler_min_docs,
    ).select("doc_id", F.col("cleaned").alias("text"), "n_boiler")
    return compacted.drop("page").join(out, "doc_id")


def signal_filter(cleaned: DataFrame, cfg: WebtextConfig) -> DataFrame:
    """Stage 3: heuristic quality and language ID.  Rounds the quality score
    to 6dp before thresholding (repo round-before-threshold rule)."""
    sig = cleaned.withColumn(
        "quality", F.round(quality_score(F.col("text")), 6)
    ).withColumn("lang_pred", lang_guess(F.col("text")))
    keep = (F.col("quality") >= cfg.min_quality) & F.col("lang_pred").isin(
        *cfg.keep_langs
    )
    return sig.where(keep)


def dedup_stage(filtered: DataFrame, cfg: WebtextConfig) -> DataFrame:
    """Stage 4: exact + MinHash-LSH near-dup removal on cleaned text."""
    keep = dedup_keep_list(
        filtered.select("doc_id", "text"),
        jaccard_threshold=cfg.jaccard_threshold,
    )
    return filtered.join(
        keep.where(F.col("is_kept")).select("doc_id"), "doc_id"
    )


def training_mix_stage(deduped: DataFrame, cfg: WebtextConfig) -> DataFrame:
    """Stage 5: deterministic per-source sampling (content-hash Bernoulli)."""
    if not cfg.mix_rates:
        return deduped
    return hash_stratified_sample(
        deduped,
        cfg.mix_rates,
        strata_col="source",
        id_col="doc_id",
        salt=cfg.mix_salt,
        default_rate=cfg.mix_default_rate,
    )


def prepare_corpus(pages: DataFrame, cfg: WebtextConfig | None = None) -> DataFrame:
    """The full pipeline.  Input columns: url, warc_ts, doc_id, source,
    page.  Output: one row per kept training document —
    (doc_id, canonical_url, n_versions, source, text, n_boiler, quality,
    lang_pred)."""
    cfg = cfg or WebtextConfig()

    def cut(df: DataFrame) -> DataFrame:
        # Materialize each stage boundary.  Without it, every self-join
        # downstream (LSH candidate generation) re-expands the whole
        # upstream subtree — measured on this plan: 278 Exchanges / 116
        # SortMergeJoins unchecked vs ~20/~15 materialized.  A cluster
        # deployment would swap localCheckpoint for plans/checkpoint.py
        # parquet snapshots (durable).
        return df.localCheckpoint(eager=False)

    compacted = cut(compact_crawl(pages))
    cleaned = cut(clean_pages(compacted, cfg))
    filtered = cut(signal_filter(cleaned, cfg))
    return training_mix_stage(dedup_stage(filtered, cfg), cfg)
