"""Generate CAPABILITIES.md: the full query registry grouped by
capability family, with each query's one-line doc and oracle status.

COVERAGE.md maps SURVEY §2's operator inventory to evidence; this is
the complementary index for everything the engine does BEYOND §2 —
LLM-pipeline components, storage layout, streaming, governance — so a
reader can find "what's the near-dup story" without grepping plans/.

Usage: python tools/capabilities_index.py   (writes CAPABILITIES.md at the repo root)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_engineering_examples_spark.plans import all_specs  # noqa: E402

# ordered family definitions: (title, predicate over tag set)
FAMILIES = [
    ("Exact & near-duplicate detection", lambda t: "dedup" in t),
    ("Similarity search / ANN", lambda t: "similarity" in t),
    ("Text analysis & tokenization", lambda t: "text" in t or "vocab" in t),
    ("Corpus & training-data preparation",
     lambda t: "corpus" in t or "training" in t or "sampling" in t),
    ("Multimodal (binary payload) columns", lambda t: "multimodal" in t),
    ("Sketches & approximate structures", lambda t: "sketch" in t),
    ("Structured Streaming", lambda t: "streaming" in t),
    ("Storage layout & table formats",
     lambda t: "layout" in t or "timetravel" in t or "scd2" in t or "cdc" in t),
    ("Governance, quality & privacy",
     lambda t: "governance" in t or "quality" in t or "privacy" in t
     or "pii" in t or "observe" in t),
    ("Graph & iterative algorithms",
     lambda t: "graph" in t or "iterative" in t),
    ("Experimentation & model evaluation",
     lambda t: "experiment" in t or "ml" in t),
    ("Workflow / task orchestration", lambda t: "workflow" in t),
    ("FHIR / healthcare ETL", lambda t: "fhir" in t or "etl" in t),
    ("Core analytics (OLAP)", lambda t: True),  # catch-all, last
]


def main() -> None:
    specs = all_specs()
    assigned: set = set()
    lines = [
        "# CAPABILITIES — the full query registry by family",
        "",
        "Generated by `tools/capabilities_index.py`. Every entry is an",
        "oracle-backed (Spark, DuckDB-SQL) pair; the first 50 registry",
        "entries form the external driver's hash-checked window (see",
        "`plans/registry.py:_PRIORITY`), and `tools/check_oracle.py`",
        "verifies the whole registry locally. `COVERAGE.md` maps the",
        "SURVEY §2 operator inventory; this file indexes everything,",
        "including the capabilities beyond §2.",
        "",
        f"Total: **{len(specs)} queries**, "
        f"{sum(1 for s in specs.values() if s.oracle)} oracle-backed.",
        "",
    ]
    window = set(list(specs)[:50])
    for title, pred in FAMILIES:
        rows = [
            (name, s)
            for name, s in specs.items()
            if name not in assigned and pred(set(s.tags))
        ]
        if not rows:
            continue
        assigned.update(name for name, _ in rows)
        lines.append(f"## {title} ({len(rows)})")
        lines.append("")
        for name, s in sorted(rows):
            mark = "•" if name in window else "·"
            doc = " ".join((s.doc or "").split())
            lines.append(f"- {mark} `{name}` — {doc}")
        lines.append("")
    lines.append("Legend: `•` = in the driver's 50-query hash-check window; "
                 "`·` = verified by the local full-registry oracle run.")
    out = os.path.join(ROOT, "CAPABILITIES.md")
    # hand-maintained appendix sections (## Appendix: ...) survive
    # regeneration — e.g. the L4 narrative inventory moved out of the
    # README's Layout table (r12)
    appendix = ""
    try:
        with open(out) as fh:
            prev = fh.read()
        i = prev.find("\n## Appendix:")
        if i != -1:
            appendix = prev[i:]
    except FileNotFoundError:
        pass
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n" + appendix)
    print(f"wrote {out}: {len(specs)} queries, "
          f"{sum(1 for t, _ in FAMILIES)} families")


if __name__ == "__main__":
    main()
