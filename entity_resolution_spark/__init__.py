"""entity_resolution_spark — a PySpark-native record-linkage (entity-resolution) engine.

A from-scratch re-expression of the capabilities of the reference pipeline
``sergiosolorzano/entity_resolution`` (single-node pandas/sklearn/networkx/torch)
as an idiomatic Spark DataFrame pipeline over Common-Crawl-style web-page tables
``(url, warc_ts, html, text, lang)``:

    extract -> block -> pairs (meta-blocking weight + prune) -> connected
    components -> per-component KLSH clustering / pairwise scoring -> evaluate

Designed for a multi-executor cluster at ~10^12-document scale: long-form
``(block_key, record_id)`` tables (never collected lists), skew-aware block-size
caps + salting, broadcast of small dimension tables, iterative
large-star/small-star connected components with per-iteration checkpointing,
and Arrow-batched pandas UDFs for every Python crossing.
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys


def _stat_keyed_invalidate(original):
    """Wrap ``zipimporter.invalidate_caches`` to re-read an archive's central
    directory only when the archive's ``(st_mtime_ns, st_size)`` changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every task
    (``worker_util.setup_spark_files``).  On Python 3.11 every cached
    ``zipimporter`` then re-reads its whole archive directory -- pyspark.zip
    alone is on ``sys.path`` about a dozen times -- which costs 0.13-0.26 s per
    task before a row is read.  Python 3.12 made the re-read lazy
    (gh-103200), so the wrapper is installed on older versions only.

    The first call for an archive re-reads it and records its stamp; importers
    that share the archive then take the shared fresh directory.  If ``stat``
    fails the original method runs.  Missed case: an archive rewritten in
    place with the same mtime and size keeps its old directory (Spark ships
    user files under unique temporary names, so workers never meet it).
    """
    import zipimport

    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return None
        stamps[self.archive] = stamp  # taken before the read: a later change re-reads
        return original(self)

    return invalidate_caches


# Spark's Python worker factory sets this variable for the daemon and its
# workers only, so any other process that imports the package keeps the stock
# method.
if _sys.version_info < (3, 12) and "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    import zipimport as _zipimport

    _zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate(
        _zipimport.zipimporter.invalidate_caches
    )
