"""The three benchmark workloads: input generation, one request, its check.

A request takes one generated input, runs the package's public entry points
over it (``plans.pipeline.resolve`` / ``score`` / ``evaluate_against_truth``,
or the ``prepared_corpus`` query of ``entrypoints``), materialises the result
and checks it.

Layers are the package functions those entry points call, intercepted for the
duration of the request (``Layers.intercept``).  With ``Layers`` an
intercepted call passes its lazy result straight through, so the request runs
exactly as a user of the package would run it; with ``TracedLayers`` (see
``tracing.py``) every layer runs under its own Spark job group and is
materialised before the next layer is called.  Layers are named after the
package modules:

* ER chain  — ``text`` (``pipeline.extract``), ``blocking`` (``block``),
  ``pairs`` (``prune`` over the lazy ``edge_weights``), ``components``
  (``assign_components``), ``similarity`` (``pipeline.score``),
  ``evaluate``;
* web text  — ``relational`` (``compact_crawl``), ``webtext``
  (``clean_pages``), ``text`` (``signal_filter``), ``dedup``
  (``dedup_stage``), ``sampling`` (``training_mix_stage``).
"""

from __future__ import annotations

import os
import shutil
import sys
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolution_spark import entrypoints
from entity_resolution_spark.functions.similarity import jaro_winkler_py
from entity_resolution_spark.operators import blocking, components, pairs
from entity_resolution_spark.plans import pipeline as P
from entity_resolution_spark.plans import webtext_pipeline as W
from entity_resolution_spark.sources.synthetic import make_pages

import fixture
import oracle

sys.path.insert(0, os.path.join(oracle.ROOT, "scripts"))
import oracle_compare  # noqa: E402

N_ENTITIES = 361
HOT_KEY_ROWS = 999
SAMPLE_ROWS = 32

ER_HOOKS = {
    (P, "extract"): "text",
    (blocking, "block"): "blocking",
    (pairs, "prune"): "pairs",
    (components, "assign_components"): "components",
}
WEBTEXT_HOOKS = {
    (W, "compact_crawl"): "relational",
    (W, "clean_pages"): "webtext",
    (W, "signal_filter"): "text",
    (W, "dedup_stage"): "dedup",
    (W, "training_mix_stage"): "sampling",
}


@dataclass
class Outcome:
    records: int
    ok: bool
    pairs_scored: int = 0
    detail: dict = field(default_factory=dict)


class Layers:
    """Untraced composition: a layer returns its DataFrame lazily.

    ``reuse`` names layers whose result is read by several later steps; it
    is checkpointed lazily, as a caller of the package would cache it.  The
    last result of every layer is kept in ``results``.
    """

    traced = False
    stats: dict = {}
    stats_s = 0.0

    def __init__(self) -> None:
        self.results: dict[str, DataFrame] = {}

    def layer(self, name: str, build, reuse: bool = False) -> DataFrame:
        df = build()
        return df.localCheckpoint(eager=False) if reuse else df

    def collect(self, name: str, build) -> list:
        return build().collect()

    def stat(self, name: str, fn):
        """Side measurement for the trace only; not run untraced."""
        return None

    @contextmanager
    def intercept(self, hooks: dict, reuse: tuple[str, ...] = ()):
        """Route each hooked package function through ``layer`` while the
        block runs; the originals are restored afterwards."""
        originals = {target: getattr(*target) for target in hooks}

        def wrap(orig, name):
            def call(*args, **kwargs):
                df = self.layer(name, lambda: orig(*args, **kwargs), name in reuse)
                self.results[name] = df
                return df

            return call

        for (module, attr), name in hooks.items():
            setattr(module, attr, wrap(originals[(module, attr)], name))
        try:
            yield
        finally:
            for (module, attr), orig in originals.items():
                setattr(module, attr, orig)


def request_seed(seed: int, i: int) -> int:
    return seed * 1_000 + i


# ---------------------------------------------------------------------------
# ER chain
# ---------------------------------------------------------------------------


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class ERWorkload:
    """``er_batches`` (hot=False) and ``er_hot_block`` (hot=True)."""

    def __init__(self, seed: int, hot: bool) -> None:
        self.seed = seed
        self.hot = hot
        # checked requests after the cold one, before timing starts
        self.warmup_requests = 0 if hot else 3

    def make_input(self, spark: SparkSession, i: int) -> dict:
        rseed = request_seed(self.seed, i)
        corpus = make_pages(
            n_entities=N_ENTITIES, seed=rseed,
            hot_key_rows=HOT_KEY_ROWS if self.hot else 0,
        )
        return {
            "seed": rseed,
            "records": len(corpus.pages),
            "pages": spark.createDataFrame(corpus.pages),
            "truth": spark.createDataFrame(corpus.truth),
        }

    def run(self, inp: dict, L: Layers) -> Outcome:
        pages, truth = inp["pages"], inp["truth"]
        # score needs the pruned edges, which resolve does not return: the
        # pairs hook keeps them, checkpointed because both read them
        with L.intercept(ER_HOOKS, reuse=("pairs",) if self.hot else ()):
            assignment = P.resolve(pages, P.ERConfig())
        blocks = L.results["blocking"]
        L.stat("pairs.pair_rows", lambda: _pair_rows(blocks))
        L.stat("pairs.candidates", lambda: pairs.candidate_pairs(blocks).count())
        detail: dict = {}
        n_scored = 0
        ok = True
        if self.hot:
            pruned = L.results["pairs"]
            scored = L.layer("similarity", lambda: P.score(pages, pruned))
            got = scored.select("id1", "id2", "lev", "jaro_winkler").toPandas()
            n_scored = len(got)
            n_pruned = pruned.count()
            bad = self._check_sample(pages, got, inp["seed"])
            detail.update(n_pruned=n_pruned, n_scored=n_scored, sample_mismatches=bad)
            ok = n_scored == n_pruned and n_pruned > 0 and bad == 0
        metrics = L.collect(
            "evaluate", lambda: P.evaluate_against_truth(assignment, truth)
        )
        m = metrics[0].asDict()
        detail.update({k: m[k] for k in ("tp", "fp", "fn", "f1")})
        return Outcome(
            records=inp["records"],
            ok=ok and m["f1"] == 1.0 and m["tp"] > 0,
            pairs_scored=n_scored,
            detail=detail,
        )

    def _check_sample(self, pages: DataFrame, got, rseed: int) -> int:
        """Seeded sample of scored rows against the Python references."""
        rng = np.random.default_rng(rseed)
        rows = got.iloc[rng.choice(len(got), min(SAMPLE_ROWS, len(got)), replace=False)]
        ids = sorted({int(x) for x in rows["id1"]} | {int(x) for x in rows["id2"]})
        titles = dict(
            P.extract(pages.where(F.xxhash64("url").isin(ids)))
            .select("record_id", "title")
            .collect()
        )
        bad = 0
        for r in rows.itertuples(index=False):
            t1, t2 = titles[r.id1], titles[r.id2]
            jw = jaro_winkler_py(t1, t2)
            if levenshtein(t1, t2) != r.lev or abs(jw - r.jaro_winkler) > 1e-12:
                bad += 1
        return bad


def _pair_rows(blocks: DataFrame) -> int:
    """(pair, block) rows the block self-join emits: sum of n(n-1)/2."""
    n = F.col("block_size").cast("long")
    return blocking.block_sizes(blocks).agg(F.sum(F.floor(n * (n - 1) / 2))).collect()[0][0]


# ---------------------------------------------------------------------------
# web-text chain (the prepared_corpus query)
# ---------------------------------------------------------------------------


class WebtextWorkload:
    """``webtext_prepare``: the ``prepared_corpus`` query over the permuted
    5k-doc corpus, written as parquet before the request starts."""

    def __init__(
        self, seed: int, docs, expected: list[int], work_dir: str
    ) -> None:
        self.seed = seed
        self.docs = docs
        self.expected = tuple(expected)
        self.work_dir = work_dir
        self.warmup_requests = 2

    def make_input(self, spark: SparkSession, i: int) -> dict:
        sf_dir = os.path.join(self.work_dir, "inputs", str(i))
        shutil.rmtree(os.path.join(self.work_dir, "inputs"), ignore_errors=True)
        fixture.write_permuted(self.docs, request_seed(self.seed, i), sf_dir)
        return {"records": len(self.docs), "spark": spark, "sf_dir": sf_dir}

    def run(self, inp: dict, L: Layers) -> Outcome:
        with L.intercept(WEBTEXT_HOOKS):
            out = entrypoints.q_prepared_corpus(inp["spark"], inp["sf_dir"])
        digest = oracle_compare._spark_checksum(out)
        return Outcome(
            records=inp["records"],
            ok=digest == self.expected,
            detail={"digest": list(digest)},
        )


def make_workload(name: str, seed: int, root: str, out_dir: str, work_dir: str):
    """The workload object; for web text this generates the corpus and
    resolves the oracle digest (pinned, cached, or computed once by DuckDB)
    before anything is timed."""
    if name == "er_batches":
        return ERWorkload(seed, hot=False)
    if name == "er_hot_block":
        return ERWorkload(seed, hot=True)
    if name == "webtext_prepare":
        sf_dir = fixture.documents_dir(root, out_dir)
        docs = fixture.load_documents(sf_dir)
        expected = oracle.expected_digest(sf_dir, fixture.content_hash(docs), out_dir)
        return WebtextWorkload(seed, docs, expected, work_dir)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("er_batches", "er_hot_block", "webtext_prepare")
