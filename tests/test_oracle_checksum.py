"""Distributed-checksum oracle compare (scripts/oracle_compare.py).

At sf1 the quadratic-output queries return 10^7-10^8 rows — too large to
collect for the pandas compare — so check_oracles.py switches to a
two-sided (count, salted bit_xor of canonical row strings) reduction.
These tests pin the contract: checksum mode agrees with the collect mode
on real queries across every primitive dtype (strings/ints/floats/
timestamps), detects planted row- and value-mismatches, and the DuckDB
timeout interrupts without poisoning the connection.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from oracle_compare import compare_one, register_views, run_with_timeout  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
PINNED_DIGESTS = os.path.join(
    os.path.dirname(__file__), "..", "perfbench", "oracle_digests.json"
)

# one query per canonical dtype family: string+long (blocking_keys),
# double (tfidf_cosine), timestamp_ntz (user_sessions), argmax-compaction
# strings+timestamps (crawl_snapshot)
CASES = ["blocking_keys", "tfidf_cosine", "user_sessions", "crawl_snapshot"]


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as M

    return M


@pytest.fixture(scope="module")
def con(entry):
    c = duckdb.connect()
    register_views(c, entry.TABLES, SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", CASES)
def test_checksum_matches_collect_verdict(spark, entry, con, name):
    qs, osql = entry.queries(), entry.oracle_sql()
    # checksum_rows=0 forces checksum mode for any non-empty result
    r = compare_one(
        spark, con, qs[name], osql[name], SF_DIR, checksum_rows=0
    )
    assert r.get("mode") == "checksum", "checksum mode should have engaged"
    assert r["ok"], r
    # and the collect path agrees (same query, default limits)
    r2 = compare_one(spark, con, qs[name], osql[name], SF_DIR)
    assert r2.get("mode") != "checksum"
    assert r2["ok"]
    assert r["spark_rows"] == r2["spark_rows"]


def test_checksum_detects_row_mismatch(spark, entry, con):
    qs, osql = entry.queries(), entry.oracle_sql()
    r = compare_one(
        spark,
        con,
        qs["blocking_keys"],
        f"SELECT * FROM ({osql['blocking_keys']}) LIMIT 10",
        SF_DIR,
        checksum_rows=0,
    )
    assert not r["ok"] and not r["rows_match"]


def test_checksum_detects_value_mismatch(spark, entry, con):
    qs, osql = entry.queries(), entry.oracle_sql()
    # same shape/row count, one value perturbed
    sql = (
        f"SELECT record_id, CASE WHEN rowid_ = 1 THEN block_key || 'X' "
        f"ELSE block_key END AS block_key FROM (SELECT *, row_number() "
        f"OVER (ORDER BY record_id, block_key) AS rowid_ FROM "
        f"({osql['blocking_keys']}))"
    )
    r = compare_one(
        spark, con, qs["blocking_keys"], sql, SF_DIR, checksum_rows=0
    )
    assert r["rows_match"] and r["schema_match"] and not r["values_match"]


def test_oracle_timeout_interrupts_and_connection_survives(con):
    # ~10^11-pair cross join: cannot finish in 1 s; interrupt must fire
    def thunk():
        return con.execute(
            "SELECT count(*) FROM range(300000) a, range(1000000) b "
            "WHERE (a.range * b.range) % 7 = 3"
        ).fetchone()

    with pytest.raises(TimeoutError):
        run_with_timeout(con, thunk, 1.0)
    assert con.execute("SELECT 41 + 1").fetchone()[0] == 42


def test_prepared_corpus_sql_keys_a_pinned_perfbench_digest():
    """perfbench keys the pinned ``webtext_prepare`` digest on
    ``fixture_hash:sha256(oracle_sql()["prepared_corpus"])``; an edit to a
    shared oracle fragment that changes this string would silently unpin the
    benchmark and make it recompute the DuckDB closure."""
    from entity_resolution_spark.entrypoints import oracle_sql

    sql = oracle_sql()["prepared_corpus"]
    sql_hash = hashlib.sha256(sql.encode("utf-8")).hexdigest()
    with open(PINNED_DIGESTS) as f:
        keys = json.load(f)
    assert sql_hash in {key.split(":", 1)[1] for key in keys}
