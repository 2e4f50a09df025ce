"""Structured Streaming ops: file-source stream over the events/pages parquet,
availableNow trigger, memory sink; streaming results must equal batch."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.streaming import stream_ops


def _stream_events(spark, tmp_path):
    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")
    schema = spark.read.parquet(str(d)).schema
    return spark.readStream.schema(schema).parquet(str(d))


def _run_to_memory(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), f"{name} did not terminate within 120 s"
    return q


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    name = f"wc_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.windowed_event_counts(stream), name)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
        for r in spark.sql(f"select * from {name}").collect()
    }
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exp = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 4))
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
            .collect()
        )
    }
    # Append mode only emits windows the watermark has passed; the last
    # windows (within the 2h watermark of max event time) stay open.
    import datetime

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=3)
    exp_closed = {k: v for k, v in exp.items() if k[0] < horizon}
    assert set(exp_closed).issubset(set(got))
    for k in exp_closed:
        assert got[k] == exp_closed[k]
    assert set(got).issubset(set(exp))  # nothing fabricated
    q.stop()


def test_streaming_exact_dedup(spark, tmp_path):
    from entity_resolution_spark.sources.synthetic import make_pages

    corpus = make_pages(n_entities=20)
    pdf = corpus.pages.copy()
    dup = pdf.iloc[[0]].copy()
    dup["url"] = "https://dup.example.com/copy"
    pdf = __import__("pandas").concat([pdf, dup], ignore_index=True)
    d = tmp_path / "pages_stream"
    spark.createDataFrame(pdf).write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.streaming_exact_dedup(stream), name)
    n = spark.sql(f"select count(*) c from {name}").collect()[0]["c"]
    # one row per distinct normalized text (the corpus may contain natural
    # exact dups: identical variant + zero body noise), planted dup collapsed
    n_distinct = (
        pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True).str.strip().nunique()
    )
    assert n == n_distinct < len(pdf)
    q.stop()


def test_sessionize_stateful(spark, tmp_path):
    import datetime

    import pandas as pd

    t0 = datetime.datetime(2024, 1, 1)
    rows = (
        [(1, t0 + datetime.timedelta(minutes=m)) for m in (0, 5, 10)]      # session A
        + [(1, t0 + datetime.timedelta(minutes=m)) for m in (120, 125)]     # session B
        + [(2, t0 + datetime.timedelta(minutes=m)) for m in (0,)]           # session C
    )
    d = tmp_path / "sess_stream"
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    name = f"ss_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.sessionize(stream), name)
    got = spark.sql(f"select * from {name}").collect()
    # closed sessions emitted inline: user 1's first session (gap 110min > 30min)
    sess = {(r["user_id"], r["n_events"]) for r in got}
    assert (1, 3) in sess
    q.stop()


def test_streaming_block_sizes(spark, tmp_path):
    from entity_resolution_spark.sources.synthetic import make_pages

    corpus = make_pages(n_entities=10)
    d = tmp_path / "bs_stream"
    spark.createDataFrame(corpus.pages).write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    name = f"bs_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.streaming_block_sizes(stream), name)
    n = spark.sql(f"select count(*) c from {name}").collect()[0]["c"]
    assert n > 0
    q.stop()


def test_incremental_candidate_pairs_match_batch(spark, tmp_path):
    """Streaming stateful pair generation == batch block-local self-join."""
    from entity_resolution_spark.operators import blocking, pairs as P
    from entity_resolution_spark.operators.blocking import BlockingStage
    from entity_resolution_spark.plans import pipeline
    from entity_resolution_spark.sources.synthetic import make_pages

    corpus = make_pages(n_entities=15)
    d = tmp_path / "incr_stream"
    spark.createDataFrame(corpus.pages).write.parquet(str(d))
    schema = spark.read.parquet(str(d)).schema
    stream = spark.readStream.schema(schema).parquet(str(d))
    name = f"ip_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.incremental_candidate_pairs(stream), name)
    got = {
        (r["id1"], r["id2"])
        for r in spark.sql(f"select distinct id1, id2 from {name}").collect()
    }
    batch_pages = spark.createDataFrame(corpus.pages)
    recs = pipeline.extract(batch_pages).select("record_id", "title")
    blocks = blocking.block(recs, [BlockingStage("title", "phonetic_combination")])
    exp = {
        (r["id1"], r["id2"])
        for r in P.candidate_pairs(blocks, distinct=True).collect()
    }
    assert got == exp
    q.stop()


def test_stream_purchase_click_pairs_equals_batch(spark, tmp_path):
    stream = _stream_events(spark, tmp_path)
    name = f"att_{uuid.uuid4().hex[:8]}"
    q = _run_to_memory(stream_ops.stream_purchase_click_pairs(stream), name)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql(f"select * from {name}").collect()
    }
    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    exp = {
        (r["purchase_id"], r["click_id"])
        for r in p.join(
            c,
            F.expr(
                "user_id = c_user AND click_ts <= purchase_ts "
                "AND click_ts >= purchase_ts - interval 1 hour"
            ),
        ).collect()
    }
    assert len(exp) > 0
    # single availableNow batch: the inner interval join emits every pair
    assert got == exp
    q.stop()
