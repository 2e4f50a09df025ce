"""Independent connected-components verification for scales where the
DuckDB recursive-CTE oracle exceeds its wall-clock budget (sf1: 40M+
pruned edges — a single-node recursive closure blows the 900 s
`SPARK_GRAFT_ORACLE_TIMEOUT`).

This takes the OTHER single-node path: DuckDB computes the pruned edge
list (the `pruned_edges` oracle SQL — itself checksum-verified against
Spark at the same scale), a driver-side union-find with path compression
labels every document with the min record id of its component (the
engine's documented invariant; docs in no edge are singleton components
of themselves), and the result is compared EXACTLY (set equality) against
the Spark `connected_components` and `component_sizes` query outputs.

Usage: python scripts/verify_cc_unionfind.py [sf_dir]   (default .tmp/sf1)
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb


def union_find_min_label(edges_iter, all_ids):
    """Min-id component label per node via union-find (path compression)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent.get(root, root)
        while parent.get(x, x) != root:
            parent[x], x = root, parent.get(x, x)
        return root

    for a, b in edges_iter:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union toward the smaller id: roots stay the running minimum,
            # so the final label pass is just find()
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {i: find(i) for i in all_ids}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".tmp/sf1"

    import __spark_entry__ as entry_mod
    from oracle_compare import register_views

    # same spill cap as check_oracles.py: fail cleanly, never fill the disk
    con = duckdb.connect(config={
        "temp_directory": "/tmp/duckdb_spill",
        "max_temp_directory_size": os.environ.get(
            "SPARK_GRAFT_DUCK_TEMP_CAP", "50GiB"
        ),
    })
    register_views(con, entry_mod.TABLES, sf_dir)

    t0 = time.time()
    edge_sql = entry_mod.oracle_sql()["pruned_edges"]
    tbl = con.execute(edge_sql).fetch_arrow_table()
    id1 = tbl.column("id1").to_numpy()
    id2 = tbl.column("id2").to_numpy()
    print(f"duckdb pruned_edges: {len(id1)} edges in {time.time()-t0:.1f}s")

    # node universe = every document (the Spark query assigns singleton
    # components to docs that appear in no pruned edge)
    all_ids = [
        int(r[0]) for r in con.execute("SELECT doc_id FROM documents").fetchall()
    ]

    t0 = time.time()
    labels = union_find_min_label(zip(id1.tolist(), id2.tolist()), all_ids)
    print(f"union-find: {len(all_ids)} docs labeled in {time.time()-t0:.1f}s")

    expected = {(i, c) for i, c in labels.items()}
    exp_sizes: dict[int, int] = {}
    for _, c in expected:
        exp_sizes[c] = exp_sizes.get(c, 0) + 1
    exp_sizes_set = {(c, n) for c, n in exp_sizes.items()}

    from entity_resolution_spark.session import get_spark

    spark = get_spark(app_name="cc-unionfind-verify")
    qs = entry_mod.queries()
    t0 = time.time()
    got = {
        (int(r["record_id"]), int(r["component_id"]))
        for r in qs["connected_components"](spark, sf_dir).collect()
    }
    print(f"spark connected_components: {len(got)} rows in {time.time()-t0:.1f}s")
    ok_cc = got == expected
    print(f"connected_components exact match: {ok_cc}")

    t0 = time.time()
    got_sizes = {
        (int(r["component_id"]), int(r["n_records"]))
        for r in qs["component_sizes"](spark, sf_dir).collect()
    }
    print(f"spark component_sizes: {len(got_sizes)} rows in {time.time()-t0:.1f}s")
    ok_sizes = got_sizes == exp_sizes_set
    print(f"component_sizes exact match: {ok_sizes}")
    spark.stop()

    if not (ok_cc and ok_sizes):
        if not ok_cc:
            print("  only-spark:", sorted(got - expected)[:5])
            print("  only-oracle:", sorted(expected - got)[:5])
        if not ok_sizes:
            print("  only-spark:", sorted(got_sizes - exp_sizes_set)[:5])
            print("  only-oracle:", sorted(exp_sizes_set - got_sizes)[:5])
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
