"""Streaming crawl-snapshot compaction == batch latest_snapshot_per_key."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from entity_resolution_spark.operators.relational import (
    latest_snapshot_per_key,
)
from entity_resolution_spark.streaming.crawl_compaction import (
    StreamingCrawlCompactor,
)

T0 = dt.datetime(2024, 1, 1)


def _rows(n=60):
    # urls collide mod 10 after canonicalization noise (case/tracking param)
    out = []
    for i in range(n):
        url = (
            f"HTTPS://www.Site{i % 10}.example.com/p/{i % 10}"
            f"?utm_source=x&a=1"
            if i % 2 == 0
            else f"https://site{i % 10}.example.com/p/{i % 10}?a=1"
        )
        # deliberate timestamp ties: i and i+30 share ts when i % 30 aligns
        out.append((url, T0 + dt.timedelta(hours=(i % 30) * 3), i))
    return out


def _batch_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, doc_id long"
    )


def _batch_result(spark, rows):
    from entity_resolution_spark.functions.urls import canonical_url

    df = _batch_df(spark, rows).select(
        canonical_url(F.col("url")).alias("canonical_url"),
        "warc_ts",
        "doc_id",
    )
    return {
        r["canonical_url"]: (
            r["n_versions"],
            r["latest_ts"],
            r["keep_doc_id"],
        )
        for r in latest_snapshot_per_key(
            df, "canonical_url", "warc_ts", "doc_id"
        ).collect()
    }


def _stream_result(spark, tmp_path, rows, splits, tag):
    c = StreamingCrawlCompactor(spark, str(tmp_path / f"state_{tag}"))
    start = 0
    for bi, end in enumerate(list(splits) + [len(rows)]):
        c.process_batch(_batch_df(spark, rows[start:end]), bi)
        start = end
    return {
        r["canonical_url"]: (
            r["n_versions"],
            r["latest_ts"],
            r["keep_doc_id"],
        )
        for r in c.state().collect()
    }


def test_fold_equals_batch_any_batching(spark, tmp_path):
    rows = _rows()
    want = _batch_result(spark, rows)
    assert _stream_result(spark, tmp_path, rows, [20, 40], "a") == want
    assert _stream_result(spark, tmp_path, rows, [1, 2, 3, 30], "b") == want
    # arrival order must not matter either
    rev = list(reversed(rows))
    assert _stream_result(spark, tmp_path, rev, [15, 45], "c") == want


def test_tie_breaks_to_min_id_across_batches(spark, tmp_path):
    # same canonical url + same ts in different batches; larger id arrives
    # first and must be displaced by the smaller id later
    rows1 = [("https://x.io/a?k=1", T0, 9)]
    rows2 = [("https://x.io/a?k=1", T0, 4)]
    c = StreamingCrawlCompactor(spark, str(tmp_path / "state_tie"))
    c.process_batch(_batch_df(spark, rows1), 0)
    c.process_batch(_batch_df(spark, rows2), 1)
    r = c.state().collect()[0]
    assert r["keep_doc_id"] == 4 and r["n_versions"] == 2


def test_through_real_writestream(spark, tmp_path):
    """Through the actual writeStream.foreachBatch path."""
    rows = _rows(30)
    d = tmp_path / "crawl_in"
    d.mkdir()
    _batch_df(spark, rows).repartition(3).write.mode("overwrite").parquet(
        str(d)
    )
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, doc_id long"
    ).parquet(str(d))
    c = StreamingCrawlCompactor(spark, str(tmp_path / "state_ws"))
    q = c.attach(stream, str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()
    got = {
        r["canonical_url"]: (r["n_versions"], r["keep_doc_id"])
        for r in c.state().collect()
    }
    want = {
        k: (v[0], v[2]) for k, v in _batch_result(spark, rows).items()
    }
    assert got == want


def test_state_swap_is_crash_atomic(spark, tmp_path):
    """A crash at any point of the state swap must leave a readable state:
    the versioned dir is written first, its commit marker next, old
    versions are deleted only after."""
    import os

    sd = tmp_path / "state_crash"
    c = StreamingCrawlCompactor(spark, str(sd))
    c.process_batch(_batch_df(spark, _rows(20)), 0)
    before = _snapshot(c)

    # simulate a crash AFTER the new versioned dir was written but BEFORE
    # its commit marker: an orphan state_v99 exists, v0 is still current
    orphan = sd / "state_v99"
    _batch_df(spark, _rows(5)).write.mode("overwrite").parquet(str(orphan))
    assert _snapshot(c) == before  # recovery reads the pre-crash state

    # a pointer tmp file left by a crash mid-write must also be harmless
    (sd / "CURRENT.tmp").write_text("state_vBOGUS")
    assert _snapshot(c) == before

    # normal processing resumes and folds on top of the pre-crash state
    c.process_batch(_batch_df(spark, _rows(40)[20:]), 1)
    assert _snapshot(c) == _batch_result(spark, _rows(40))
    # superseded version was cleaned up; state_v1 is the only committed one
    assert [p.parent.name for p in sd.glob("*/_COMMITTED")] == ["state_v1"]
    assert not (sd / "state_v0").exists()


def _snapshot(c):
    return {
        r["canonical_url"]: (r["n_versions"], r["latest_ts"], r["keep_doc_id"])
        for r in c.state().collect()
    }


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers a batch when the crash lands between our
    pointer flip and the streaming offset commit: the replay must be a
    no-op (no n_versions double-count, no self-overwrite of the live
    state dir)."""
    rows = _rows(20)
    c = StreamingCrawlCompactor(spark, str(tmp_path / "state_replay"))
    c.process_batch(_batch_df(spark, rows), 0)
    c.process_batch(_batch_df(spark, rows[:10]), 1)
    after = _snapshot(c)
    # replay batch 1 (same id, even different content) — skipped entirely
    c.process_batch(_batch_df(spark, rows[:10]), 1)
    c.process_batch(_batch_df(spark, rows), 0)
    assert _snapshot(c) == after
    # a genuinely new batch still applies
    c.process_batch(_batch_df(spark, _rows(40)[20:]), 2)
    assert _snapshot(c) == _batch_result(
        spark, rows + rows[:10] + _rows(40)[20:]
    )


def test_state_dir_as_file_uri(spark, tmp_path, monkeypatch):
    """A file:// state dir is handled as a URI, not a local relative path:
    no stray ``file:`` directory under the cwd, superseded state deleted
    at the real location, replay still a no-op."""
    monkeypatch.chdir(tmp_path)
    sd = tmp_path / "st"
    c = StreamingCrawlCompactor(spark, sd.as_uri())
    rows = _rows(40)
    c.process_batch(_batch_df(spark, rows[:20]), 0)
    c.process_batch(_batch_df(spark, rows[20:]), 1)
    c.process_batch(_batch_df(spark, rows[20:]), 1)
    assert _snapshot(c) == _batch_result(spark, rows)
    assert (sd / "state_v1").exists()
    assert not (sd / "state_v0").exists()
    assert not (tmp_path / "file:").exists()
