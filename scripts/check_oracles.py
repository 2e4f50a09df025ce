"""Local replica of the driver's correctness check: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count + sorted
value hash (columns sorted by name, rows sorted, values stringified).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

The comparison itself lives in scripts/oracle_compare.py, shared with the
pytest gate tests/test_oracles_all.py.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb
import pandas as pd

from oracle_compare import compare_one, register_views


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    # spill outside the repo: big oracles (keep-list at sf0.1) out-of-core
    # to ./.tmp otherwise — 32 GB of temp landed inside the git tree once
    # cap the spill so one monster oracle (40M-pair shingle Jaccard at sf1
    # spilled >78 GB) fails cleanly instead of filling the disk under the
    # concurrently-running Spark shuffle dirs
    con = duckdb.connect(config={
        "temp_directory": "/tmp/duckdb_spill",
        "max_temp_directory_size": os.environ.get(
            "SPARK_GRAFT_DUCK_TEMP_CAP", "50GiB"
        ),
    })
    register_views(con, entry_mod.TABLES, sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # big-sf knobs: results larger than SPARK_GRAFT_CHECKSUM_ROWS compare
    # via the distributed checksum (collecting 10^7-row pair tables blows
    # spark.driver.maxResultSize at sf1); DuckDB gets a per-oracle budget
    # (0 = unlimited) so one quadratic oracle can't hang the sweep.
    checksum_rows = int(os.environ.get("SPARK_GRAFT_CHECKSUM_ROWS", "2000000"))
    timeout = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT", "0")) or None
    failures = []
    timeouts = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            r = compare_one(
                spark, con, fn, oracles.get(name), sf_dir,
                checksum_rows=checksum_rows, oracle_timeout=timeout,
            )
        except TimeoutError as e:
            timeouts.append(name)
            print(f"{name:28s} ORACLE_TIMEOUT: {e}")
            continue
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} ERROR: {str(e).splitlines()[0][:140]}")
            continue
        if r["rows_only"]:
            print(f"{name:28s} rows-only: {r['spark_rows']} rows")
            continue
        status = "OK" if r["ok"] else "MISMATCH"
        if not r["ok"]:
            failures.append(name)
        mode = " [checksum]" if r.get("mode") == "checksum" else ""
        print(
            f"{name:28s} {status}{mode}  spark={r['spark_rows']} duck={r['oracle_rows']}"
            f" cols_s={r['cols_s']} cols_d={r['cols_d']}"
        )
        if (
            not r["ok"] and r["rows_match"] and r["schema_match"]
            and r.get("s") is not None
        ):
            s, o = r["s"], r["o"]
            diff = (s != o).any(axis=1)
            print("  first diffs:")
            print(pd.concat([s[diff].head(3), o[diff].head(3)], keys=["spark", "duck"]))
    spark.stop()
    if timeouts:
        print("ORACLE TIMEOUTS (documented, not failures):", timeouts)
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
