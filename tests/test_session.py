"""The session's codegen cache holds the working set of the package's entry
points: a long-lived session serving the ER and web-text chains alternately
compiles their generated classes once, not on every request."""

from __future__ import annotations

from entity_resolution_spark import entrypoints
from entity_resolution_spark.plans import pipeline as P
from entity_resolution_spark.session import DEFAULT_CONFS, codegen_compiles
from entity_resolution_spark.sources.synthetic import make_pages

SF = "/root/testdata/sf0.001"


def test_alternating_chains_reuse_generated_code(spark):
    corpus = make_pages(n_entities=60)
    pages = spark.createDataFrame(corpus.pages)
    truth = spark.createDataFrame(corpus.truth)

    def er_request():
        built = {}

        def stage(name, build):
            built[name] = build()
            return built[name]

        assignment = P.stage_graph(pages, P.ERConfig(), stage)
        P.score(pages, built["03_pruned"]).collect()
        return P.evaluate_against_truth(assignment, truth).collect()

    rounds = []
    for _ in range(3):
        c0 = codegen_compiles(spark)
        (m,) = er_request()
        entrypoints.q_prepared_corpus(spark, SF).collect()
        rounds.append(codegen_compiles(spark) - c0)
        assert m["f1"] == 1.0
    # with Spark's default 100 entries every round recompiles ~230 classes
    assert rounds[-1] <= 20, rounds
    # a session built without get_spark keeps Spark's 100-entry cache
    assert (
        spark.conf.get("spark.sql.codegen.cache.maxEntries")
        == DEFAULT_CONFS["spark.sql.codegen.cache.maxEntries"]
    )
