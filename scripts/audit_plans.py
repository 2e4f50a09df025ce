"""Physical-plan audit: capture .explain output for EVERY driver query,
assert the properties that matter at scale, write PLANS.md.

Universal checks (every query in ``entrypoints._raw_queries()``):
* no unpartitioned Window — a global window sort is the classic
  single-partition scale-killer (the round-1 AUROC bug class);
* no CartesianProduct; BroadcastNestedLoopJoin only where a bounded
  broadcast non-equi join is the intended plan (brute-force ANN, the
  vec_id<50 labeled-pair universe, 1-row bound tables);
* narrow parquet scans — documents.source / events.props are never read,
  and lang / n_chars / label only by the queries that use them;
* whole-stage codegen present whenever the plan contains a file scan.

Queries built around eager localCheckpoints (klsh_lloyd, and the CC loop
inside several) materialize part of their lineage before .explain — for
those the scan/window checks cover the post-checkpoint plan only; the
pre-checkpoint stages are the same audited fragments (blocking/edges/CC)
the other sections show.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Scan allow-lists: default per table; per-query overrides where the query
# legitimately needs more columns.
DEFAULT_ALLOW = {
    "documents": {"doc_id", "text"},
    "events": {"event_id", "ts", "user_id", "event_type", "value"},
    "embeddings": {"vec_id", "embedding"},
}
ALLOW_OVERRIDES: dict[str, dict[str, set]] = {
    "topk_per_group": {"documents": {"doc_id", "lang", "n_chars"}},
    "feature_embed": {"documents": {"doc_id", "n_chars"}},
    "klsh_lloyd": {"documents": {"doc_id", "text", "n_chars"}},
    "encoder_forward": {"documents": {"doc_id", "n_chars"}},
    "docs_without_edges": {"documents": {"doc_id", "text", "lang"}},
    "two_stage_blocks": {"documents": {"doc_id", "text", "lang"}},
    "pair_auroc": {"embeddings": {"vec_id", "embedding", "label"}},
    "pair_threshold_metrics": {"embeddings": {"vec_id", "embedding", "label"}},
    "lang_pivot": {"documents": {"source", "lang", "n_chars"}},
    "boilerplate_strip": {"documents": {"doc_id", "text", "source"}},
    "training_mix": {"documents": {"doc_id", "source"}},
    "prepared_corpus": {"documents": {"doc_id", "text", "source"}},
}
# Bounded-by-construction broadcast non-equi joins (intended plans).
EXPECT_BNLJ = {
    "embedding_topk",       # broadcast 10-query side × corpus, brute-force baseline
    "pair_auroc",           # vec_id<50 labeled-pair universe (≤ 50×50)
    "pair_threshold_metrics",
    "iqr_outliers",         # 1-row bounds table × events
    "lm_cross_entropy",     # 1-row vocabulary-size scalar × doc bigrams
}


def plan_text(df, mode: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def scans(formatted: str):
    """Yield (table, read_cols) for each parquet scan in a formatted plan."""
    for m in re.finditer(
        r"Location: InMemoryFileIndex \[file:([^\]]+)\].*?ReadSchema: struct<([^>]*)>",
        formatted,
        re.DOTALL,
    ):
        table = m.group(1).rstrip("/").split("/")[-1].replace(".parquet", "")
        cols = {c.split(":")[0] for c in m.group(2).split(",") if c}
        yield table, cols


def unpartitioned_windows(simple: str) -> list[str]:
    # a partitioned Window prints "Window [exprs], [partSpec], [orderSpec]"
    # (two "], [" separators); an unpartitioned global window has only one —
    # the single-partition stage Spark warns about ("No Partition Defined")
    out = []
    for line in simple.splitlines():
        ls = line.strip().lstrip("+-: *(0123456789)")
        if ls.startswith("Window [") and ls.count("], [") < 2:
            out.append(ls[:90])
    return out


def main() -> None:
    from entity_resolution_spark import entrypoints as EP
    from entity_resolution_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE off for the audit only: AdaptiveSparkPlan(isFinalPlan=false) hides
    # the *(n) codegen markers until execution; codegen coverage is a static
    # property, production sessions keep AQE on.
    spark = get_spark(
        app_name="plan-audit", extra_confs={"spark.sql.adaptive.enabled": "false"}
    )
    qs = EP._raw_queries()
    failures = []
    report = ["# PLANS — physical-plan audit of ALL driver queries\n"]
    report.append(
        "Generated by `python scripts/audit_plans.py` (rerun after plan-affecting "
        "changes). Universal checks per query: no unpartitioned Window, no "
        "CartesianProduct, BroadcastNestedLoopJoin only on the bounded-broadcast "
        "allowlist, narrow parquet ReadSchema (pruning reaches the scan; "
        "`documents.source`/`events.props` never read), whole-stage codegen "
        "present when a file scan is.\n"
    )
    for name, fn in qs.items():
        df = fn(spark, sf)
        fmt = plan_text(df, "formatted")
        simple = plan_text(df, "simple")
        n_codegen = len(set(re.findall(r"\*\((\d+)\)", simple)))
        scan_rows = list(scans(fmt))
        ok = True
        notes = []
        allow = dict(DEFAULT_ALLOW)
        allow.update(ALLOW_OVERRIDES.get(name, {}))
        for t, cols in scan_rows:
            allowed = allow.get(t)
            if allowed is not None and not cols <= allowed:
                ok = False
                notes.append(
                    f"scan of {t} reads {sorted(cols - allowed)} beyond {sorted(allowed)}"
                )
        if n_codegen == 0 and "InMemoryFileIndex" in fmt:
            notes.append("no WholeStageCodegen span found")
            ok = False
        for w in unpartitioned_windows(simple):
            ok = False
            notes.append(f"unpartitioned Window: {w}")
        if "CartesianProduct" in simple:
            ok = False
            notes.append("CartesianProduct in plan")
        n_bnlj = simple.count("BroadcastNestedLoopJoin")
        if n_bnlj and name not in EXPECT_BNLJ:
            ok = False
            notes.append("unexpected BroadcastNestedLoopJoin")
        bcast = simple.count("BroadcastHashJoin")
        smj = simple.count("SortMergeJoin")
        checkpointed = "ExistingRDD" in simple or "LogicalRDD" in fmt
        if not ok:
            failures.append((name, notes))
        report.append(f"## {name}\n")
        report.append(
            f"- codegen spans: {n_codegen}; broadcast joins: {bcast}; "
            f"sort-merge joins: {smj}; bnl joins: {n_bnlj}"
            + ("; contains checkpointed (pre-materialized) lineage" if checkpointed else "")
            + "\n- scans: "
            + ("; ".join(f"{t}({', '.join(sorted(c))})" for t, c in scan_rows) or "(none in post-checkpoint plan)")
            + "\n"
            + ("- **FAIL**: " + "; ".join(notes) + "\n" if notes else "- checks: OK\n")
        )
    spark.stop()
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(report))
    if failures:
        print("PLAN AUDIT FAILURES:")
        for name, notes in failures:
            print(" ", name, notes)
        sys.exit(1)
    print(f"PLAN AUDIT OK — PLANS.md written ({len(qs)} queries)")


if __name__ == "__main__":
    main()
