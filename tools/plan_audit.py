"""Physical-plan audit across the whole query registry.

For every registered query, build the plan at sf0.01 (no execution — the
audit inspects `executedPlan` after AQE planning, which does not run
jobs; queries whose CONSTRUCTION runs eager index builds still pay
those) and extract the scale-relevant features:

- number of Exchange (shuffle) operators — the cost driver at 100 TB;
- row-at-a-time Python (`BatchEvalPython`) — must be ZERO everywhere
  (Arrow paths show up as ArrowEvalPython / MapInPandas and are the
  sanctioned boundary);
- broadcast joins vs sort-merge joins;
- parquet scans with pushed filters / partition filters, and scans
  reading a pruned column subset.

Writes PLAN_AUDIT.md (one row per query) and prints a summary. Queries
are audited, not graded — a shuffle is not a bug; an unexplained
BatchEvalPython is.

Usage: python tools/plan_audit.py [--sf-dir DIR] [name ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_plan(plan: str) -> dict:
    def count(pat: str) -> int:
        return len(re.findall(pat, plan))

    scans = count(r"Scan parquet")
    pushed = len(
        [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
    )
    partf = len(
        [
            m
            for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
            if m.strip()
        ]
    )
    return {
        # \bExchange\b does not match inside BroadcastExchange ('t' is a
        # word char), so this counts shuffle exchanges only
        "exchanges": count(r"\bExchange\b"),
        "broadcast_joins": count(r"BroadcastHashJoin|BroadcastNestedLoopJoin"),
        "sort_merge_joins": count(r"SortMergeJoin"),
        "scans": scans,
        "scans_with_pushdown": pushed,
        "scans_with_partition_filters": partf,
        "python_row_at_a_time": count(r"BatchEvalPython"),
        "arrow_python": count(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"),
        "codegen_spans": count(r"WholeStageCodegen"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from py_data_pipeline_app_spark.plans.queries import QUERIES as qs
    from py_data_pipeline_app_spark.session import get_spark

    spark = get_spark("plan-audit")
    names = args.names or sorted(qs)

    rows = []
    offenders = []
    for name in names:
        try:
            df = qs[name](spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 - audit keeps going
            rows.append((name, None, f"plan construction failed: {e}"))
            continue
        a = audit_plan(plan)
        rows.append((name, a, None))
        if a["python_row_at_a_time"]:
            offenders.append(name)
        print(
            f"{name}: exch={a['exchanges']} bj={a['broadcast_joins']} "
            f"smj={a['sort_merge_joins']} scans={a['scans']} "
            f"pushed={a['scans_with_pushdown']} partf={a['scans_with_partition_filters']} "
            f"pyrow={a['python_row_at_a_time']} arrow={a['arrow_python']}",
            flush=True,
        )

    lines = [
        "# Physical-plan audit",
        "",
        f"Generated by `tools/plan_audit.py` at `{args.sf_dir}`. One row per",
        "registered query; `pyrow` (row-at-a-time Python) must be 0",
        "everywhere — Arrow-batched Python (`arrow`) is the sanctioned",
        "boundary. Shuffle counts are structural facts, not verdicts: a",
        "keyed aggregation needs its Exchange; the audit exists to catch",
        "the ones nothing needs.",
        "",
        "| Query | Exchanges | Bcast joins | SMJ | Scans | Pushed | PartFilters | PyRow | Arrow | Codegen |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a, err in rows:
        if a is None:
            lines.append(f"| `{name}` | — | — | — | — | — | — | — | — | {err} |")
            continue
        lines.append(
            f"| `{name}` | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['sort_merge_joins']} | {a['scans']} | {a['scans_with_pushdown']} | "
            f"{a['scans_with_partition_filters']} | {a['python_row_at_a_time']} | "
            f"{a['arrow_python']} | {a['codegen_spans']} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\nwrote {out}")
    if offenders:
        print(f"ROW-AT-A-TIME PYTHON OFFENDERS: {offenders}")
        sys.exit(1)
    print("no row-at-a-time Python anywhere")


if __name__ == "__main__":
    main()
