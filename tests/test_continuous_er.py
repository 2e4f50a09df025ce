"""Continuous (micro-batch incremental) ER == batch ER on the same input."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_spark.plans import pipeline
from entity_resolution_spark.sources.synthetic import make_pages
from entity_resolution_spark.streaming.continuous_er import ContinuousER


def test_continuous_er_matches_batch(spark, tmp_path):
    corpus = make_pages(n_entities=40)
    pdf = corpus.pages
    # two arrival waves splitting clusters across batches (interleaved rows)
    b1, b2 = pdf.iloc[::2], pdf.iloc[1::2]

    cer = ContinuousER(spark, str(tmp_path / "state"))
    cer.process_batch(spark.createDataFrame(b1), 0)
    mid = {r["record_id"]: r["component_id"] for r in cer.current_assignment().collect()}
    assert len(mid) == len(b1)

    cer.process_batch(spark.createDataFrame(b2), 1)
    got = {r["record_id"]: r["component_id"] for r in cer.current_assignment().collect()}

    batch = pipeline.resolve(spark.createDataFrame(pdf))
    exp = {r["record_id"]: r["component_id"] for r in batch.collect()}
    assert got == exp

    # and the truth still resolves perfectly through the incremental path
    truth = spark.createDataFrame(corpus.truth)
    assignment = cer.current_assignment().join(
        pipeline.extract(spark.createDataFrame(pdf)).select("record_id", "url"),
        "record_id",
    )
    m = pipeline.evaluate_against_truth(assignment, truth).collect()[0]
    assert m["f1"] == 1.0


def test_continuous_er_recrawl_cross_batch_weight(spark, tmp_path):
    """A re-crawled url whose pair crosses the prune threshold only across
    batches: u1 shares one key with u2 in batch 1 (title 'ago' ∩ 'axu' =
    {'a'}) and a different key after re-crawl in batch 2 ('baxu' ∩ 'axu' =
    {'axu'}).  Cumulative weight 2 > 1.5 ⇒ same component — a batch-keys-only
    delta would never emit this edge."""
    cer = ContinuousER(spark, str(tmp_path / "state3"))
    cer.process_batch(
        spark.createDataFrame(
            [("u1", "ago filler words"), ("u2", "axu other words")], ["url", "text"]
        ),
        0,
    )
    cer.process_batch(
        spark.createDataFrame([("u1", "baxu recrawled body")], ["url", "text"]), 1
    )
    got = {r["record_id"]: r["component_id"] for r in cer.current_assignment().collect()}
    ids = {
        r["url"]: r["record_id"]
        for r in spark.createDataFrame([("u1",), ("u2",)], ["url"])
        .withColumn("record_id", F.xxhash64("url"))
        .collect()
    }
    assert got[ids["u1"]] == got[ids["u2"]]


def test_continuous_er_streaming_query(spark, tmp_path):
    """Through the real writeStream.foreachBatch path."""
    corpus = make_pages(n_entities=12)
    d = tmp_path / "pages_in"
    spark.createDataFrame(corpus.pages).write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    cer = ContinuousER(spark, str(tmp_path / "state2"))
    q = cer.attach(stream)
    q.awaitTermination(120)
    got = cer.current_assignment().count()
    assert got == len(corpus.pages)
    q.stop()


def test_continuous_er_edge_table_stays_compact(spark, tmp_path):
    """Repeated re-crawls of the same urls must not grow the edge table:
    after compaction it holds exactly the distinct (id1, id2) pairs."""
    cer = ContinuousER(spark, str(tmp_path / "state4"))
    pages = [("u1", "alpha beta gamma"), ("u2", "alpha beta gamma")]
    for b in range(4):  # the same two urls re-crawled four times
        cer.process_batch(spark.createDataFrame(pages, ["url", "text"]), b)
    edges = spark.read.parquet(str(tmp_path / "state4" / "edges"))
    assert edges.count() == edges.select("id1", "id2").distinct().count()
    # and the assignment still groups the near-identical pair
    got = {r["component_id"] for r in cer.current_assignment().collect()}
    assert len(got) == 1


def test_continuous_er_state_dir_as_file_uri(spark, tmp_path, monkeypatch):
    """A file:// state dir is written through Spark at the real location;
    nothing is created under the cwd."""
    monkeypatch.chdir(tmp_path)
    corpus = make_pages(n_entities=6)
    cer = ContinuousER(spark, (tmp_path / "state").as_uri())
    cer.process_batch(spark.createDataFrame(corpus.pages), 0)
    assert cer.current_assignment().count() == len(corpus.pages)
    assert (tmp_path / "state" / "assignment").exists()
    assert not (tmp_path / "file:").exists()
