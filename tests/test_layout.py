"""Pages-table layout (partition by crawl day, bucket by url): round-trip
+ PLANS.md-style proof that day/bucket predicates become PartitionFilters
(pruned at file listing, not row filtering)."""

from __future__ import annotations

import datetime as dt
import glob
import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from entity_resolution_spark.sources.layout import (
    crawl_day_of,
    point_lookup,
    read_pages_layout,
    url_bucket_of,
    write_pages_layout,
)

T0 = dt.datetime(2024, 1, 1, 6, 0, 0)
N_BUCKETS = 8


def _pages(spark, n=400, days=5):
    return spark.range(n).select(
        F.concat(F.lit("https://site"), (F.col("id") % 50).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
        (F.lit(T0) + F.make_interval(days=(F.col("id") % days).cast("int"))).alias("warc_ts"),
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_layout_round_trip(spark, tmp_path):
    root = str(tmp_path / "pages")
    src = _pages(spark)
    write_pages_layout(src, root, n_buckets=N_BUCKETS)

    back = read_pages_layout(spark, root)
    assert back.count() == 400
    # partition columns restored, and consistent with the row data
    bad = back.where(
        (F.col("crawl_day") != crawl_day_of(F.col("warc_ts")))
        | (F.col("url_bucket") != url_bucket_of(F.col("url"), N_BUCKETS))
    ).count()
    assert bad == 0
    # full payload survives
    got = {r["doc_id"]: r["text"] for r in back.select("doc_id", "text").collect()}
    assert got == {i: f"text-{i}" for i in range(400)}
    # one file per populated (day, bucket) dir — the repartition-by-layout
    # guarantee that prevents the partitionBy small-file explosion
    for d in glob.glob(f"{root}/crawl_day=*/url_bucket=*"):
        files = glob.glob(f"{d}/*.parquet")
        assert len(files) == 1, d


def test_day_and_bucket_predicates_prune(spark, tmp_path):
    root = str(tmp_path / "pages_prune")
    write_pages_layout(_pages(spark), root, n_buckets=N_BUCKETS)

    q = read_pages_layout(spark, root).where(
        (F.col("crawl_day") == "2024-01-02") & (F.col("url_bucket") == 3)
    )
    plan = _plan(q)
    # the predicates must appear as PartitionFilters on the scan node —
    # i.e. pruned from the file listing, NOT PushedFilters/row filters
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "crawl_day" in m.group(1) and "url_bucket" in m.group(1), plan
    # and the rows are right
    want = (
        read_pages_layout(spark, root)
        .where(crawl_day_of(F.col("warc_ts")) == "2024-01-02")
        .where(url_bucket_of(F.col("url"), N_BUCKETS) == 3)
        .count()
    )
    assert q.count() == want > 0


def test_point_lookup_reads_one_bucket(spark, tmp_path):
    root = str(tmp_path / "pages_point")
    write_pages_layout(_pages(spark), root, n_buckets=N_BUCKETS)

    url = "https://site7.example.com/p/7"
    q = point_lookup(spark, root, url, n_buckets=N_BUCKETS)
    rows = q.collect()
    assert [r["doc_id"] for r in rows] == [7]
    plan = _plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "url_bucket" in m.group(1), plan


def test_bucketed_tables_join_without_exchange(spark):
    """Two tables bucketed the same way join with NO Exchange on either
    side — the co-located-join payoff the layout is designed for."""
    from entity_resolution_spark.sources.layout import write_bucketed_table

    a = _pages(spark, n=200).select("url", "doc_id")
    b = _pages(spark, n=200).select(
        "url", F.col("doc_id").alias("other_id")
    )
    write_bucketed_table(a, "pages_a", n_buckets=4)
    write_bucketed_table(b, "pages_b", n_buckets=4)
    # tiny fixture tables would broadcast (which also bypasses bucketing);
    # force the sort-merge path the bucket metadata is designed for — at
    # real scale neither side is broadcastable anyway
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("pages_a").join(spark.table("pages_b"), "url")
        plan = _plan(j)
        # co-located: bucket metadata satisfies the join distribution
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() == 200
        # control: the same join from plain (unbucketed) reads DOES shuffle
        a2 = a.localCheckpoint()
        b2 = b.localCheckpoint()
        assert "Exchange" in _plan(a2.join(b2, "url"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pages_a")
        spark.sql("DROP TABLE IF EXISTS pages_b")


def test_layout_pages_feed_the_pipeline(spark, tmp_path):
    """Pages written in the partitioned layout feed the full resolution
    pipeline unchanged (the partition columns ride along harmlessly), and
    a day-filtered incremental run prunes at the scan."""
    from entity_resolution_spark.plans import pipeline
    from entity_resolution_spark.sources.synthetic import make_pages

    corpus = make_pages(n_entities=25)
    src = spark.createDataFrame(corpus.pages)
    root = str(tmp_path / "pages_pipe")
    write_pages_layout(src, root, n_buckets=N_BUCKETS)

    pages = read_pages_layout(spark, root)
    truth = spark.createDataFrame(corpus.truth)
    m = pipeline.evaluate_against_truth(
        pipeline.resolve(pages), truth
    ).collect()[0]
    assert m["f1"] == 1.0, m

    # incremental-day shape: filter on the partition column prunes files
    some_day = pages.select("crawl_day").limit(1).collect()[0][0]
    daily = pages.where(F.col("crawl_day") == some_day)
    plan = _plan(daily)
    m2 = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m2 and "crawl_day" in m2.group(1), plan
    assert daily.count() > 0


# --- snapshots / atomic publish ----------------------------------------------

def test_publish_snapshot_flip_and_time_travel(spark, tmp_path):
    from entity_resolution_spark.sources.layout import (
        current_snapshot,
        publish_pages_layout,
        read_pages_snapshot,
        snapshot_versions,
    )

    root = str(tmp_path / "pages")
    v0 = publish_pages_layout(_pages(spark, n=100), root, n_buckets=N_BUCKETS)
    v1 = publish_pages_layout(_pages(spark, n=250), root, n_buckets=N_BUCKETS)
    assert (v0, v1) == (0, 1)
    assert current_snapshot(root) == 1
    assert snapshot_versions(root) == [0, 1]
    # reader resolves the current snapshot
    assert read_pages_layout(spark, root).count() == 250
    # time travel: the old snapshot stays fully readable
    assert read_pages_snapshot(spark, root, 0).count() == 100
    # point_lookup prunes within the current snapshot
    got = point_lookup(spark, root, "https://site3.example.com/p/3",
                       n_buckets=N_BUCKETS).collect()
    assert [r["doc_id"] for r in got] == [3]


def test_publish_concurrent_reader_is_snapshot_isolated(spark, tmp_path):
    """A reader that resolved the table BEFORE a rewrite keeps seeing its
    complete snapshot throughout and after the publish — the failure mode
    of a bare mode=overwrite (reader sees a half-deleted table) cannot
    happen because a publish never touches existing snapshot dirs."""
    from entity_resolution_spark.sources.layout import publish_pages_layout

    root = str(tmp_path / "pages")
    publish_pages_layout(_pages(spark, n=100), root, n_buckets=N_BUCKETS)
    reader = read_pages_layout(spark, root)  # lazy: pinned to v0's files
    publish_pages_layout(_pages(spark, n=250), root, n_buckets=N_BUCKETS)
    # old reader: still exactly the 100 v0 rows, no partial state
    assert reader.count() == 100
    assert sorted(r["doc_id"] for r in reader.select("doc_id").collect()) \
        == list(range(100))
    # a fresh resolve sees the new table
    assert read_pages_layout(spark, root).count() == 250


def test_publish_crash_before_flip_resumes_cleanly(spark, tmp_path):
    """Simulated crash: a snapshot directory fully (or partially) written
    but the pointer never flipped. Readers stay on the old snapshot; the
    next publish allocates a FRESH version (never reuses the orphan) and
    flips past it."""
    from entity_resolution_spark.sources.layout import (
        current_snapshot,
        publish_pages_layout,
        snapshot_versions,
    )

    root = str(tmp_path / "pages")
    publish_pages_layout(_pages(spark, n=100), root, n_buckets=N_BUCKETS)
    # crash during publish of v1: data landed, pointer flip never happened
    write_pages_layout(_pages(spark, n=17), root + "/v1", n_buckets=N_BUCKETS)
    assert current_snapshot(root) == 0
    assert read_pages_layout(spark, root).count() == 100
    # retry (new data): orphan v1 is skipped, not reused
    v = publish_pages_layout(_pages(spark, n=250), root, n_buckets=N_BUCKETS)
    assert v == 2
    assert current_snapshot(root) == 2
    assert read_pages_layout(spark, root).count() == 250
    assert snapshot_versions(root) == [0, 1, 2]


def test_publish_retain_last_expires_old_snapshots(spark, tmp_path):
    from entity_resolution_spark.sources.layout import (
        publish_pages_layout,
        read_pages_snapshot,
        snapshot_versions,
    )

    root = str(tmp_path / "pages")
    for n in (50, 100, 150):
        publish_pages_layout(_pages(spark, n=n), root, n_buckets=N_BUCKETS)
    assert snapshot_versions(root) == [0, 1, 2]
    v = publish_pages_layout(_pages(spark, n=200), root,
                             n_buckets=N_BUCKETS, retain_last=2)
    assert v == 3
    assert snapshot_versions(root) == [2, 3]
    assert read_pages_layout(spark, root).count() == 200
    assert read_pages_snapshot(spark, root, 2).count() == 150


def test_retain_last_counts_published_snapshots_not_orphans(spark, tmp_path):
    """A crash-orphan v* directory must not displace a readable snapshot
    from the retained window: retention counts PUBLISHED versions (the
    append-only PUBLISHED log ∪ CURRENT), and orphans newer than the
    cutoff merely ride along."""
    import os

    from entity_resolution_spark.sources.layout import (
        current_snapshot,
        publish_pages_layout,
        published_versions,
        read_pages_snapshot,
        snapshot_versions,
    )

    root = str(tmp_path / "pages")
    publish_pages_layout(_pages(spark, n=50), root, n_buckets=N_BUCKETS)
    # two crash-orphans: directories exist, never published
    os.makedirs(os.path.join(root, "v1"))
    os.makedirs(os.path.join(root, "v2"))
    v = publish_pages_layout(_pages(spark, n=100), root,
                             n_buckets=N_BUCKETS, retain_last=2)
    assert v == 3
    assert published_versions(root) == [0, 3]
    # retain 2 published snapshots -> v0 stays readable (old behavior
    # counted the orphans and expired it)
    assert read_pages_snapshot(spark, root, 0).count() == 50
    assert current_snapshot(root) == 3

    # a further publish pushes v0 out of the window; orphans older than
    # the cutoff are swept too
    v = publish_pages_layout(_pages(spark, n=150), root,
                             n_buckets=N_BUCKETS, retain_last=2)
    assert v == 4
    assert snapshot_versions(root) == [3, 4]
    assert published_versions(root) == [3, 4]
    assert read_pages_snapshot(spark, root, 3).count() == 100


def test_publish_to_file_uri_root(spark, tmp_path, monkeypatch):
    """A file:// snapshot root is handled as a URI end to end: publish,
    current snapshot, time travel and retention act on the real location,
    and no stray ``file:`` directory appears under the cwd."""
    from entity_resolution_spark.sources.layout import (
        current_snapshot,
        publish_pages_layout,
        read_pages_snapshot,
        snapshot_versions,
    )

    monkeypatch.chdir(tmp_path)
    root = (tmp_path / "pages").as_uri()
    publish_pages_layout(_pages(spark, n=100), root, n_buckets=N_BUCKETS)
    publish_pages_layout(_pages(spark, n=250), root, n_buckets=N_BUCKETS)
    assert current_snapshot(root) == 1
    assert read_pages_layout(spark, root).count() == 250
    assert read_pages_snapshot(spark, root, 0).count() == 100
    assert publish_pages_layout(_pages(spark, n=50), root,
                                n_buckets=N_BUCKETS, retain_last=1) == 2
    assert snapshot_versions(root) == [2]
    assert sorted(p.name for p in (tmp_path / "pages").glob("v*")) == ["v2"]
    assert read_pages_layout(spark, root).count() == 50
    assert not (tmp_path / "file:").exists()
