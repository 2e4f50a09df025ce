"""Iceberg-style pages-table layout: partition by crawl day, bucket by url.

SCALING.md §Input assumptions describes the 100 TB pages table as
"partitioned by crawl date (`warc_ts` day) + bucketed by `xxhash64(url)`
into 2¹⁶ buckets".  This module is that layout as a plain-parquet write
path + a reader whose filters PRUNE on it — the sandbox stand-in for an
Iceberg table (no snapshot/ACID metadata here; on a real deployment the
same two columns become the Iceberg partition spec ``days(warc_ts),
bucket(65536, url)`` and everything below is metadata-managed).

Why these two dimensions:

* **crawl day** — every incremental job (crawl diff, compaction, "process
  yesterday") is a day-range scan; directory partitioning turns it into
  file-listing, reading 1/365th of a year's table per day.
* **url bucket** — url is the join/dedup key of the whole pipeline
  (canonical-url compaction, URL dedup, crawl diff).  Writing each day
  hash-bucketed by url means (a) a point lookup reads ONE bucket =
  1/n_buckets of a day, and (b) two tables written with the same
  n_buckets can be joined bucket-by-bucket (join on (url_bucket, url) —
  the bucket equality cuts the shuffle's effective width; with a real
  bucketed table format the shuffle disappears entirely).

Layout on disk (Hive-style, readable by every engine):

    <root>/crawl_day=2024-01-01/url_bucket=13/part-*.parquet

Partition values are directory metadata, not row data — the reader
restores them as columns, and Catalyst turns ``crawl_day``/``url_bucket``
predicates into PartitionFilters (pruned at file-listing time, visible in
the scan node — asserted by tests/test_layout.py the same way PLANS.md
asserts scan shapes).

**Snapshots / atomic publish** (:func:`publish_pages_layout`): a bare
``mode=overwrite`` rewrite has a window where a concurrent reader sees a
partial table, and a crash mid-rewrite loses the old data too.  Each
publish therefore writes a FRESH versioned directory ``<root>/v{n}/<hive
layout>`` and only then writes a ``_COMMITTED`` marker into it — the commit
protocol of ``storage.py``: a version counts iff its marker exists, and the
current snapshot is the highest committed ``n``.  Readers that resolved an
older snapshot keep scanning its (still present) files; a crash before the
marker leaves an orphan directory no reader sees and whose number the next
publish skips.  Old snapshots remain readable by version
(:func:`read_pages_snapshot` — time travel) until explicitly retired via
``retain_last``.  This is the snapshot/commit half of what Iceberg metadata
buys; the marker is the sandbox stand-in for its catalog swap.  Listing,
markers and deletes go through the Hadoop FileSystem API, so ``root`` may be
a local path or a file://, hdfs:// or s3a:// URI.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import storage

#: 2¹⁶ in SCALING.md; tests use small values — one knob, same code path.
DEFAULT_BUCKETS = 1 << 16


def url_bucket_of(url: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Bucket id of a url — the SAME expression writers and readers use,
    so a point lookup can compute its bucket instead of scanning all."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets)).cast("int")


def crawl_day_of(warc_ts: Column) -> Column:
    return F.date_format(warc_ts, "yyyy-MM-dd")


def write_pages_layout(
    df: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` in the SCALING.md layout.

    The pre-write ``repartition(crawl_day, url_bucket)`` is what keeps the
    file count sane: without it, every task holding rows of a (day,
    bucket) pair emits its own file — tasks × days × buckets small files,
    the classic partitionBy explosion.  With it, each populated (day,
    bucket) pair is exactly one task → one file, and the shuffle that
    achieves this is the same hash distribution the layout itself wants.
    """
    (
        df.withColumn("crawl_day", crawl_day_of(F.col(ts_col)))
        .withColumn("url_bucket", url_bucket_of(F.col(url_col), n_buckets))
        .repartition("crawl_day", "url_bucket")
        .write.mode(mode)
        .partitionBy("crawl_day", "url_bucket")
        .parquet(path)
    )


def _snapshot_path(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/v{version}"


def snapshot_versions(root: str) -> list[int]:
    """Sorted snapshot versions present under ``root`` (orphans included —
    presence of a directory does not imply it was ever published)."""
    return storage.versions(SparkSession.active(), root, "v")


def published_versions(root: str) -> list[int]:
    """Sorted versions that completed a publish (hold the commit marker)."""
    return storage.versions(SparkSession.active(), root, "v", storage.COMMITTED)


def current_snapshot(root: str) -> int | None:
    """Highest published version, or None for a plain (non-snapshot)
    layout directory."""
    return storage.latest(SparkSession.active(), root, "v")


def publish_pages_layout(
    df: DataFrame,
    root: str,
    n_buckets: int = DEFAULT_BUCKETS,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    retain_last: int | None = None,
) -> int:
    """Atomically publish ``df`` as the next snapshot of the table at
    ``root``; returns the new version number.

    Write order is the crash-safety argument: (1) the full Hive layout
    lands in a fresh ``v{n}`` directory nobody reads yet; (2) its commit
    marker makes it the current snapshot.  A crash during (1) leaves the
    previous snapshot current and an orphan directory whose version number
    the next publish skips (it allocates max+1 over ALL ``v*`` directories,
    published or not — a half-written directory is never reused).  Readers
    holding the previous snapshot keep working through and after the
    commit, because a publish never touches existing snapshot directories.

    ``retain_last``: optionally delete all but the newest N published
    snapshots AFTER the commit (the new current is always kept).  Deletion
    breaks readers still scanning those old snapshots — same contract as
    expiring Iceberg snapshots — so it runs last and defaults to off.
    """
    spark = df.sparkSession
    present = storage.versions(spark, root, "v")
    new_v = (present[-1] + 1) if present else 0
    path = _snapshot_path(root, new_v)
    write_pages_layout(
        df, path, n_buckets=n_buckets,
        url_col=url_col, ts_col=ts_col, mode="errorifexists",
    )
    storage.commit(spark, path)
    if retain_last is not None and retain_last >= 1:
        # retention counts published snapshots, not directories: a
        # crash-orphan v* dir must not displace a readable snapshot from
        # the window.  Everything older than the oldest kept published
        # version goes — published snapshots outside the window and stale
        # orphans alike; orphans newer than the cutoff are left (a future
        # publish skips their numbers anyway)
        cutoff = storage.versions(spark, root, "v", storage.COMMITTED)[-retain_last:][0]
        for old in present:
            if old < cutoff:
                storage.delete(spark, _snapshot_path(root, old))
    return new_v


def read_pages_layout(spark: SparkSession, path: str) -> DataFrame:
    """Read the layout back; ``crawl_day`` / ``url_bucket`` come back as
    partition columns, so filters on them prune directories at file-listing
    time (PartitionFilters in the scan, zero data files touched outside the
    selected day/bucket ranges).

    If ``path`` is a snapshot root (holds a committed ``v{n}``), the
    current snapshot is resolved at call time and the returned DataFrame
    is pinned to it: later publishes do not change what this DataFrame
    scans (snapshot-isolated reads)."""
    cur = storage.latest(spark, path, "v")
    if cur is not None:
        path = _snapshot_path(path, cur)
    return spark.read.parquet(path)


def read_pages_snapshot(spark: SparkSession, root: str, version: int) -> DataFrame:
    """Time travel: read a specific published (or retained) snapshot."""
    return spark.read.parquet(_snapshot_path(root, version))


def point_lookup(
    spark: SparkSession,
    path: str,
    url: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """All versions of one url: bucket-pruned scan + exact url filter.
    Reads 1/n_buckets of the table regardless of table size."""
    bucket = url_bucket_of(F.lit(url), n_buckets)
    return (
        read_pages_layout(spark, path)
        .where(F.col("url_bucket") == bucket)
        .where(F.col("url") == url)
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    n_buckets: int = 64,
    bucket_col: str = "url",
    mode: str = "overwrite",
) -> None:
    """Catalog-backed bucketed table (``bucketBy`` + ``sortBy``): the
    shuffle-FREE join path the directory layout above only approximates.

    Two tables written with the same ``(n_buckets, bucket_col)`` join on
    ``bucket_col`` with NO Exchange on either side — Spark trusts the
    bucket metadata and runs a co-located sort-merge join (asserted at the
    plan level by tests/test_layout.py).  This is exactly what an Iceberg
    ``bucket(N, url)`` partition transform buys on a real deployment; the
    in-session catalog + parquet warehouse is the sandbox stand-in.

    At 100 TB: every url-keyed stage (canonical-url compaction, URL dedup,
    crawl diff, the blocking table's record side) re-shuffles the full
    table once per join today — bucketed storage pays that shuffle ONCE at
    write time and amortizes it over every downstream join/aggregation on
    the same key.
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )
