"""Durable directories: one commit protocol over the Hadoop FileSystem API.

Every durable directory the package keeps — pages-layout snapshots
(``sources/layout.py``), streaming compactor state
(``streaming/crawl_compaction.py``), durable connected-components rounds
(``operators/components.py``) — holds numbered versions
``<root>/<prefix><n>``, and answers "which version is current" the same way:

* a version **counts iff its commit marker exists** inside it;
* the **latest** version is the highest committed ``n``.

Writers write the whole version directory first and the marker last, so a
crash before the marker leaves an orphan no reader ever sees, and a crash
after it leaves a complete version.  The marker is ``_COMMITTED`` (written
by :func:`commit`) where a finished Spark write must still not count, and
Spark's own ``_SUCCESS`` where it may.

Listing, marker writes and deletes all go through the Hadoop FileSystem API,
so the same code serves local paths and file://, hdfs:// or s3a:// URIs.
"""

from __future__ import annotations

import re

COMMITTED = "_COMMITTED"
SUCCESS = "_SUCCESS"


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def write_committed(spark, path: str) -> bool:
    """True iff a Spark write into ``path`` completed (its ``_SUCCESS``
    marker is present)."""
    fs, marker = hadoop_fs(spark, f"{path.rstrip('/')}/{SUCCESS}")
    return fs.exists(marker)


def versions(spark, root: str, prefix: str, marker: str | None = None) -> list[int]:
    """Sorted ``n`` of the directories ``<root>/<prefix><n>``; with
    ``marker``, only those holding it (the committed versions)."""
    fs, hroot = hadoop_fs(spark, root)
    if not fs.exists(hroot):
        return []
    name_re = re.compile(re.escape(prefix) + r"(\d+)")
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    out = []
    for st in fs.listStatus(hroot):
        m = name_re.fullmatch(st.getPath().getName())
        if m and (marker is None or fs.exists(Path(st.getPath(), marker))):
            out.append(int(m.group(1)))
    return sorted(out)


def latest(spark, root: str, prefix: str, marker: str = COMMITTED) -> int | None:
    """Highest committed version under ``root``, or None."""
    done = versions(spark, root, prefix, marker)
    return done[-1] if done else None


def commit(spark, path: str) -> None:
    """Write ``path``'s ``_COMMITTED`` marker durably.  ``create`` without
    overwrite fails if the marker exists, so a version commits once."""
    fs, hpath = hadoop_fs(spark, f"{path.rstrip('/')}/{COMMITTED}")
    stream = fs.create(hpath, False)
    try:
        stream.hsync()
    finally:
        stream.close()


def delete(spark, path: str) -> None:
    """Recursively delete ``path`` (no-op if absent)."""
    fs, hpath = hadoop_fs(spark, path)
    fs.delete(hpath, True)
