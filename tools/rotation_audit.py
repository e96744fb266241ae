"""Audit driver-evidence coverage across rounds.

Reads every ``CORRECTNESS_r*.json`` the external driver has recorded,
classifies each registered query (never-checked / green / red / weakest
evidence seen), and checks the CURRENT 50-entry window against the
rotation policy: anchors pinned, remaining slots spent on queries with
no prior driver row (re-proof slots for red rows are the one sanctioned
exception).  This mechanizes the per-round "never-checked" accounting
that used to be an ad-hoc script in each round's transcript.

Usage: python tools/rotation_audit.py
Exit 1 if any rotating slot is spent on an already-green query.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_WINDOW = 50
N_ANCHORS = 25  # §2 anchors pinned at the head of _PRIORITY


def driver_rows() -> dict[str, list]:
    """name -> [(round_file, green: bool, hash: bool)] across rounds."""
    out: dict[str, list] = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(f)).items():
            if not isinstance(row, dict):
                continue
            green = row.get("err") is None and bool(row.get("rows_match"))
            out.setdefault(name, []).append(
                (f, green, bool(row.get("hash_match")))
            )
    return out


def main() -> int:
    from data_engineering_examples_spark.plans.registry import all_specs

    specs = all_specs()
    names = list(specs)
    window = names[:N_WINDOW]
    rows = driver_rows()

    greens = {n for n, rs in rows.items() if any(g for _, g, _ in rs)}
    reds = {
        n for n, rs in rows.items()
        if rs and not rs[-1][1] or (rs and rs[-1][1] and not rs[-1][2])
    }
    never = [n for n in names if n not in rows]

    print(f"registry: {len(names)} queries; driver evidence for "
          f"{len(greens & set(names))}; never-checked: {len(never)}")
    for n in never:
        print(f"  never: {n}")

    bad_slots = []
    for n in window[N_ANCHORS:]:
        if n in greens and n not in reds:
            bad_slots.append(n)
    if bad_slots:
        print(f"\nROTATION VIOLATION: {len(bad_slots)} rotating slots "
              f"re-prove already-green queries:")
        for n in bad_slots:
            print(f"  wasted slot: {n}")
        return 1
    print(f"\nwindow OK: {N_ANCHORS} anchors + "
          f"{len(window) - N_ANCHORS} first-timer/re-proof slots")
    return 0


if __name__ == "__main__":
    sys.exit(main())
