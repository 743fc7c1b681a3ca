#!/usr/bin/env python
"""Generate PLANS.md — a compact physical-plan audit of every registered
query at $SPARK_GRAFT_SF_DIR (default sf0.01): exchange (shuffle) count,
join strategies, whole-stage-codegen coverage, Python nodes, and whether
the parquet scans carry pushed filters.  The machine-readable form of
".explain() and iterate until it's the plan you'd want".

Usage: python tools/plan_audit.py [> PLANS.md]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys


def plan_stats(df) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # formatted output = operator tree, blank line, then per-node detail
    # sections (each node name appears again there) — count ONLY the tree
    tree = plan.split("\n\n", 1)[0]
    return {
        "exchanges": tree.count("Exchange") - tree.count("ReusedExchange"),
        "reused_exchanges": tree.count("ReusedExchange"),
        "bhj": tree.count("BroadcastHashJoin"),
        "smj": tree.count("SortMergeJoin"),
        "shj": tree.count("ShuffledHashJoin"),
        "bnlj": tree.count("BroadcastNestedLoopJoin"),
        "cartesian": tree.count("CartesianProduct"),
        # nodes inside a whole-stage-codegen span are tagged
        # "[codegen id : N]"; distinct ids = spans (requires AQE OFF in
        # the audit session — the AQE initial plan carries no codegen ids)
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        # "MapInArrow" also matches the PythonMapInArrow node name
        "python_arrow": tree.count("MapInPandas")
        + tree.count("MapInArrow")
        + tree.count("FlatMapGroupsInPandas")
        + tree.count("ArrowEvalPython"),
        "python_rowwise": tree.count("BatchEvalPython"),
        "scans": tree.count("Scan parquet"),
        "pushed_filters": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    from mini_hadoop_spark.registry import ALL_ORACLES, ALL_QUERIES
    from mini_hadoop_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE's initial plan hides codegen annotations; the audit wants the
    # static plan's codegen spans (execution still runs under AQE — this
    # session is audit-only)
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    print("# PLANS — physical-plan audit of every registered query")
    print()
    print(f"Generated by `tools/plan_audit.py` at `{sf_dir}`.  Columns:")
    print("shuffles (Exchange, ReusedExchange excluded; +N reused), join strategy")
    print("nodes (broadcast-hash / sort-merge / shuffled-hash / broadcast-NL),")
    print("WholeStageCodegen spans, Python nodes (arrow-batched / row-wise), and")
    print("parquet scans with non-empty PushedFilters.  Row-wise Python and")
    print("CartesianProduct are 0 everywhere by plan-guard (tests/test_plan_guards.py).")
    print()
    print("| query | shuffles | BHJ | SMJ | SHJ | BNLJ | codegen | py(arrow) | py(row) | pushed-filter scans | oracle |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    failures = []
    for name, fn in ALL_QUERIES.items():
        try:
            s = plan_stats(fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"{type(exc).__name__}: {exc}"))
            continue
        assert s["cartesian"] == 0, name
        ex = str(s["exchanges"]) + (f" (+{s['reused_exchanges']} reused)" if s["reused_exchanges"] else "")
        print(
            f"| {name} | {ex} | {s['bhj']} | {s['smj']} | {s['shj']} | {s['bnlj']} "
            f"| {s['codegen_spans']} | {s['python_arrow']} | {s['python_rowwise']} "
            f"| {s['pushed_filters']} | {'yes' if name in ALL_ORACLES else 'rows-only'} |"
        )
    if failures:
        print()
        print("## Failures")
        for name, err in failures:
            print(f"- {name}: {err}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
