"""Expected ``prepared_corpus`` digest for the ``webtext_prepare`` workload.

The digest is the ``(rows, x1, x2)`` checksum of ``scripts/oracle_compare.py``
computed by DuckDB over the query's oracle SQL.  The DuckDB recursive closure
takes minutes on a 4-core host, so the digest is computed once per fixture
content and oracle SQL: pinned in ``oracle_digests.json`` beside this file, or
else computed and cached in the output directory.  It is never part of a timed
request or of ``setup_s``.

Pin the digest of the current fixture and SQL with::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINNED = os.path.join(HERE, "oracle_digests.json")


def _load(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _store(path: str, key: str, digest: list[int]) -> None:
    table = _load(path)
    table[key] = digest
    with open(path, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def oracle_query() -> str:
    from entity_resolution_spark.entrypoints import oracle_sql

    return oracle_sql()["prepared_corpus"]


def digest_key(fixture_hash: str) -> str:
    """Fixture content hash and oracle SQL hash: a change to either one
    forces the digest to be computed again."""
    sql_hash = hashlib.sha256(oracle_query().encode("utf-8")).hexdigest()
    return f"{fixture_hash}:{sql_hash}"


def duckdb_digest(sf_dir: str, work_dir: str) -> list[int]:
    """Run the DuckDB oracle of ``prepared_corpus`` over
    ``sf_dir/documents.parquet``."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import oracle_compare as oc

    os.makedirs(work_dir, exist_ok=True)
    con = duckdb.connect(config={
        "temp_directory": os.path.join(work_dir, "duckdb_spill"),
        "threads": 4,
    })
    try:
        oc.register_views(con, ["documents"], sf_dir)
        n, x1, x2, _cols = oc._duck_checksum(con, oracle_query())
    finally:
        con.close()
    return [n, x1, x2]


def expected_digest(sf_dir: str, fixture_hash: str, out_dir: str) -> list[int]:
    """Pinned digest, else the cached one, else compute it with DuckDB and
    cache it under ``out_dir``."""
    key = digest_key(fixture_hash)
    pinned = _load(PINNED).get(key)
    if pinned is not None:
        return pinned
    cache = os.path.join(out_dir, "oracle_cache.json")
    cached = _load(cache).get(key)
    if cached is not None:
        return cached
    digest = duckdb_digest(sf_dir, os.path.join(out_dir, "oracle_work"))
    _store(cache, key, digest)
    return digest


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from fixture import content_hash, documents_dir, load_documents

    out = os.path.join(HERE, "out")
    sf_dir = documents_dir(ROOT, out)
    key = digest_key(content_hash(load_documents(sf_dir)))
    digest = duckdb_digest(sf_dir, os.path.join(out, "oracle_work"))
    _store(PINNED, key, digest)
    print(key, digest)
