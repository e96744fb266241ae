"""Generate COVERAGE.md: SURVEY.md §2 operator ID → concrete evidence.

For every operator row in SURVEY §2's tables (S*, P*, J*, A*, W*, F*, U*,
T*, X*), collect:

* registered queries whose ``tags`` carry the ID (the oracle-checked
  evidence — see CORRECTNESS_r*.json for pass status),
* source files whose docstrings/comments cite the ID,
* test files that cite the ID.

Usage: python tools/coverage_matrix.py   (writes COVERAGE.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SRC_DIRS = ["data_engineering_examples_spark", "tests"]
ID_RE = re.compile(r"^\| (?P<id>[SPJAWFUTX]\d+) \| (?P<name>[^|]+) \|")


def survey_operators() -> list[tuple[str, str]]:
    ops = []
    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        in_s2 = False
        for line in fh:
            if line.startswith("## 2."):
                in_s2 = True
            elif line.startswith("## ") and in_s2:
                break
            elif in_s2:
                m = ID_RE.match(line)
                if m:
                    ops.append((m.group("id"), m.group("name").strip().rstrip("*")))
    return ops


def code_citations() -> dict[str, list[str]]:
    cites: dict[str, list[str]] = {}
    for d in SRC_DIRS:
        for dirpath, _dn, files in os.walk(os.path.join(REPO, d)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, f), REPO)
                with open(os.path.join(dirpath, f)) as fh:
                    text = fh.read()
                for op_id in set(re.findall(r"\b([SPJAWFUTX]\d{1,2})\b", text)):
                    cites.setdefault(op_id, []).append(rel)
    return cites


def main() -> None:
    from data_engineering_examples_spark.plans import all_specs

    specs = all_specs()
    # the external driver hash-checks only the first 50 registry entries;
    # tail queries are verified locally by tools/check_oracle.py instead
    window = set(list(specs)[:50])
    by_tag: dict[str, list[str]] = {}
    for name, spec in specs.items():
        for t in spec.tags:
            by_tag.setdefault(t, []).append(name)

    def evidence(q: str) -> str:
        if specs[q].oracle is None:
            return f"`{q}` (rows-only)"
        return f"`{q}`" if q in window else f"`{q}` (local)"

    ops = survey_operators()
    cites = code_citations()

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → evidence",
        "",
        "Generated by `tools/coverage_matrix.py`. An unannotated query is",
        "oracle-backed AND inside the driver's 50-entry correctness window",
        "(green row in CORRECTNESS_r*.json). `(local)` = oracle-backed but",
        "driver-unseen, verified by `tools/check_oracle.py`; `(rows-only)` =",
        "no oracle, pytest-gated. `cited in` lists source/test files whose",
        "docstrings claim the ID.",
        "",
        "| ID | Operator | Evidence queries | Cited in |",
        "|---|---|---|---|",
    ]
    n_query_covered = 0
    for op_id, op_name in ops:
        qs = by_tag.get(op_id, [])
        files = [f for f in cites.get(op_id, []) if not f.startswith("tools")]
        if any(specs[q].oracle is not None for q in qs):
            n_query_covered += 1
        q_cell = ", ".join(evidence(q) for q in qs) or "—"
        f_cell = ", ".join(f"`{f}`" for f in sorted(set(files))[:4]) or "—"
        lines.append(f"| {op_id} | {op_name} | {q_cell} | {f_cell} |")

    lines += [
        "",
        f"Totals: {len(ops)} §2 operators; {n_query_covered} carry an "
        f"explicitly-tagged oracle query; {len(specs)} queries registered "
        "overall (LLM-pipeline modules — dedup, similarity, text, "
        "multimodal — are additional surface beyond §2, tagged `llm`).",
        "",
    ]
    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(ops)} operators, {n_query_covered} query-tagged")


if __name__ == "__main__":
    main()
