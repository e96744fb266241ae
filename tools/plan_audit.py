"""Audit every registered query's physical plan and write PLANS.md.

For each registered query this captures scale-relevant plan facts:
exchange count, broadcast/shuffle-join mix, whether filters reached
the scan (PushedFilters / PartitionFilters), whole-stage-codegen spans,
Python (Arrow) stages, and red flags (CartesianProduct, row-at-a-time
BatchEvalPython). ``tests/test_plan_invariants.py`` enforces the hard
rules; this tool renders the full table for review.

Usage: python tools/plan_audit.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"


def plan_facts(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "sort_merge": plan.count("SortMergeJoin"),
        "shuffle_hash": plan.count("ShuffledHashJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "arrow_python": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        "slow_python": plan.count("BatchEvalPython"),
        "pushed": "PushedFilters: [" in plan
        and not plan.split("PushedFilters: [", 1)[1].startswith("]"),
        "takeordered": plan.count("TakeOrderedAndProject"),
    }


def main() -> None:
    from data_engineering_examples_spark.plans import all_specs
    from data_engineering_examples_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    for name, spec in all_specs().items():
        try:
            f = plan_facts(spec.fn(spark, SF))
        except Exception as ex:  # noqa: BLE001
            rows.append((name, None, str(ex)[:80]))
            continue
        rows.append((name, f, None))

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Generated by `tools/plan_audit.py` at sf0.01 (plan shape, not",
        "timing). Columns: shuffle exchanges / broadcast exchanges /",
        "join strategies (SMJ+SHJ+BNLJ) / whole-stage-codegen spans /",
        "Arrow-batched Python stages / filters pushed to scan / top-k via",
        "TakeOrderedAndProject. Hard invariants (no CartesianProduct, no",
        "row-at-a-time BatchEvalPython) are enforced by",
        "`tests/test_plan_invariants.py`.",
        "",
        "| query | xchg | bcast | SMJ/SHJ/BNLJ | codegen | arrowPy | pushed | topK |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, f, err in rows:
        if err:
            lines.append(f"| {name} | ERROR: {err} | | | | | | |")
            continue
        joins = f"{f['sort_merge']}/{f['shuffle_hash']}/{f['bnl']}"
        lines.append(
            f"| {name} | {f['exchanges']} | {f['broadcasts']} | {joins} "
            f"| {f['codegen_spans']} | {f['arrow_python']} "
            f"| {'y' if f['pushed'] else '—'} | {f['takeordered'] or '—'} |"
        )
    lines.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    n_err = sum(1 for _n, _f, e in rows if e)
    print(f"wrote PLANS.md: {len(rows)} queries, {n_err} errors")


if __name__ == "__main__":
    main()
