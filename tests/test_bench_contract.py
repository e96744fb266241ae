"""The driver's bench contract: ``python bench.py`` must print exactly
ONE JSON line on stdout with keys metric/value/unit/queries/sf — a
breakage here silently loses the round's BENCH record, so it is pinned
by running the real script in a real subprocess (restricted to two
queries via SPARK_GRAFT_BENCH_ONLY to stay fast)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO_ROOT

BENCH = os.path.join(REPO_ROOT, "bench.py")


def test_bench_prints_one_json_line_with_contract_keys(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_BENCH_ONLY"] = "q01_pricing_summary,q03_top_orders"
    env["SPARK_GRAFT_BENCH_REPEAT"] = "1"  # cover the no-spread branch
    env["SPARK_GRAFT_CPUS"] = "4"
    # NEVER write into the repo's bench_snapshots/ from a test: that
    # would overwrite the round's real full-record artifact.
    env["SPARK_GRAFT_BENCH_FULL_PATH"] = str(tmp_path / "full.json")
    # started from outside the checkout, with no PYTHONPATH of its own:
    # bench.py must hand its root to Spark's Python workers itself
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, BENCH],
        capture_output=True,
        text=True,
        env=env,
        cwd=tmp_path,
        timeout=600,
        check=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"stdout must be ONE JSON line, got: {lines!r}"
    rec = json.loads(lines[0])
    assert set(rec) >= {"metric", "value", "unit", "queries", "sf"}
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert set(rec["queries"]) == {"q01_pricing_summary", "q03_top_orders"}
    assert rec["value"] > 0
    assert abs(rec["value"] - sum(rec["queries"].values())) < 1e-6
    # per-query timings go to stderr, never stdout
    assert "q01_pricing_summary" in out.stderr
    # the full record landed at the env-var path, NOT in the repo tree
    full = json.loads((tmp_path / "full.json").read_text())
    assert full["queries"] == rec["queries"]


def test_bench_repeat_reports_median_and_spread(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_BENCH_ONLY"] = "q01_pricing_summary"
    env["SPARK_GRAFT_BENCH_REPEAT"] = "3"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_BENCH_FULL_PATH"] = str(tmp_path / "full.json")
    out = subprocess.run(
        [sys.executable, BENCH],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
        check=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert rec["repeat"] == 3
    spread = rec["queries_spread"]["q01_pricing_summary"]
    assert len(spread["runs"]) == 3
    assert spread["min"] <= spread["median"] <= spread["max"]
    # headline per-query value IS the median (and value = sum of medians)
    assert rec["queries"]["q01_pricing_summary"] == spread["median"]
    assert abs(rec["value"] - sum(rec["queries"].values())) < 1e-6


def test_bench_substrate_builds_are_timed_entries(tmp_path):
    """r13 verdict ask #1: substrate build costs must be visible.  With
    the prebuild enabled, every memo_substrate build appears as its own
    entry in the record's top-level ``substrates`` map (kept out of
    ``queries``/``value``), and substrate-consuming queries are tagged
    in ``substrate_warm`` — their own numbers measure warm serving, not
    the build."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_BENCH_ONLY"] = "q23_ngram_jaccard_pairs"
    env["SPARK_GRAFT_BENCH_REPEAT"] = "1"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_BENCH_SUBSTRATES"] = "1"  # BENCH_ONLY defaults off
    env["SPARK_GRAFT_BENCH_FULL_PATH"] = str(tmp_path / "full.json")
    out = subprocess.run(
        [sys.executable, BENCH],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
        check=True,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1
    rec = json.loads(lines[0])
    assert "hashed_shingles" in rec["substrates"]
    assert "q72_membership" in rec["substrates"]
    assert all(v > 0 for v in rec["substrates"].values())
    # builds stay OUT of queries/value: the driver's round-over-round
    # total must remain comparable (old medians never contained them)
    assert not any(n.startswith("substrate") for n in rec["queries"])
    assert abs(rec["value"] - sum(rec["queries"].values())) < 1e-6
    # the consumer is tagged warm on the substrate it reads
    assert "hashed_shingles" in rec["substrate_warm"]["q23_ngram_jaccard_pairs"]


def test_shape_stdout_fits_driver_tail_budget():
    """The driver keeps only the last 2000 chars of stdout; a full
    233-query record is ~40x that, so the printed line must shrink —
    slowest queries first, truncation explicit — while small runs pass
    through COMPLETELY unchanged (the two subprocess tests above pin
    that via json.loads equality with the full contract keys)."""
    import bench

    queries = {f"q{i:03d}_name_of_query_{i}": round(0.01 * i, 4) for i in range(233)}
    out = {
        "metric": "declared_query_set_total_runtime",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "repeat": 3,
        "queries_spread": {
            n: {"median": s, "min": s, "max": s, "runs": [s, s, s]}
            for n, s in queries.items()
        },
    }
    line = bench.shape_stdout(out, os.path.join(REPO_ROOT, "bench_snapshots/last_run_full.json"))
    assert len(line) <= bench.STDOUT_BUDGET
    rec = json.loads(line)
    assert set(rec) >= {"metric", "value", "unit", "queries", "sf"}
    assert rec["value"] == out["value"]  # total across ALL queries
    assert rec["n_queries"] == 233
    assert rec["queries_omitted"] == 233 - len(rec["queries"])
    assert rec["queries_full"] == "bench_snapshots/last_run_full.json"
    # slowest queries survive truncation
    slowest = max(queries, key=queries.get)
    assert slowest in rec["queries"]
    assert "queries_spread" not in rec

    # small run: byte-identical passthrough
    small = {
        "metric": "declared_query_set_total_runtime",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q01": 1.0},
        "sf": 0.001,
    }
    assert json.loads(bench.shape_stdout(small, None)) == small
