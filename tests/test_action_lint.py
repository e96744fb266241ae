"""AST-level lint: no driver-side Spark actions in package plan code.

Registry query functions return LAZY DataFrames — the caller (driver,
bench, pytest) collects. A ``.collect()``/``.toPandas()`` inside
``plans/`` or ``operators/`` would mean the operator is not
distributed: at 100 TB the driver would OOM or serialize the cluster
behind one Python loop. The plans already obey this rule (r10 VERDICT
"zero collect/toPandas anywhere in the package, grep-verified"); this
test machine-enforces it by construction, the same way
test_plan_invariants.py enforces the no-CartesianProduct rule.

Two rule classes:

* **Collect-like actions** (``collect``, ``toPandas``,
  ``toLocalIterator``, ``show``, ``foreach``, ``foreachPartition``,
  ``take``, ``head``, ``first``) are banned everywhere in ``plans/``
  and ``operators/`` except the explicitly whitelisted staging seams
  below. ``F.first(...)`` (the aggregate FUNCTION) is excluded by
  receiver name — it is a Column expression, not an action.
  ``count`` is deliberately NOT in the banned set: ``GroupedData
  .count()`` is a lazy transformation and indistinguishable from the
  action by static receiver analysis; the collect-like set above
  covers every way rows can actually reach the driver.

* **Writes** (any ``.write.`` chain) are banned except in functions
  whose PURPOSE is a write path — storage-layout operators, write-
  audit-publish, idempotent-merge reruns, and the streaming queries
  that stage their own micro-batch input feeds. I/O-layer modules
  (``sources/``, ``sinks/``) are out of scope: writing is their job.

Every whitelist entry is asserted to still be USED, so a seam that
disappears from the code flags its stale whitelist row instead of
silently widening the allowed surface.
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(os.path.dirname(__file__), "..", "data_engineering_examples_spark")
SCOPES = ("plans", "operators")

COLLECT_LIKE = {
    "collect",
    "toPandas",
    "toLocalIterator",
    "show",
    "foreach",
    "foreachPartition",
    "take",
    "head",
    "first",
}

# (module relpath, enclosing function, attr) -> why this seam is legal.
# Every entry must be a ONE-ROW / feed-staging read outside the hot
# path — never per-row driver iteration.
ACTION_SEAMS = {
    (
        "plans/etl_queries.py",
        "q150_write_audit_publish",
        "first",
    ): "write-audit-publish reads back the one-row audit summary of the "
    "files it just wrote before atomically publishing the manifest",
    (
        "plans/workflow_queries.py",
        "_stream_attribution",
        "first",
    ): "one-row max(ts) aggregate to compute the watermark-flush sentinel "
    "timestamp for the staged feed (scale-safe: aggregate of the feed)",
    (
        "plans/training_queries.py",
        "q240_linear_probe_gd",
        "first",
    ): "one-row sufficient-statistics fetch (X^T X / X^T y — nine "
    "integers from one map-side-combinable aggregate); the GD rounds "
    "are exact driver arithmetic on those nine numbers, never data",
    (
        "plans/training_queries.py",
        "q241_gbdt_stumps",
        "first",
    ): "one-row histogram fetch per boosting round (the candidate-split "
    "conditional aggregates); split selection is exact integer "
    "arithmetic over the 14 candidates — the decision every "
    "distributed GBDT pulls to the driver between passes",
    (
        "plans/text_queries.py",
        "q239_bpe_train_rounds",
        "first",
    ): "one-row merge-winner fetch per BPE round (TakeOrdered argmax of "
    "the vocab-sized pair-count aggregate); the merge application is a "
    "literal replace layered onto the form expression — the decision "
    "every distributed BPE trainer pulls to the driver between passes",
}

# (module relpath, enclosing function) whose write chains are the point.
WRITE_SEAMS = {
    ("plans/analytics.py", "q111_partition_pruning"): "partition-layout op",
    ("plans/analytics.py", "q114_compaction_roundtrip"): "compaction op",
    ("plans/analytics.py", "q136_dynamic_partition_overwrite"): "DPO op",
    ("plans/analytics.py", "q161_table_checksum"): "checksum-after-write op",
    ("plans/analytics.py", "_bucketed_landing"): "bucketed-landing substrate",
    ("plans/analytics.py", "q122_orc_roundtrip"): "ORC format roundtrip op",
    ("plans/analytics.py", "q277_xml_roundtrip"): "XML format roundtrip op",
    ("plans/corpus_queries.py", "q100_jsonl_roundtrip"): "JSONL roundtrip "
    "staging: writes the text feed it then ingests",
    ("plans/corpus_queries.py", "q124_dirty_csv_ingest"): "dirty-CSV staging: "
    "writes the malformed text feed the ingest query parses",
    ("plans/corpus_queries.py", "q110_schema_evolution"): "schema-evolution "
    "staging: writes two generations of the same table",
    ("plans/etl_queries.py", "q150_write_audit_publish"): "write-audit-publish",
    ("plans/etl_queries.py", "q186_ods_zip_roundtrip"): "roundtrip staging",
    ("plans/etl_queries.py", "q207_ods_zip_stream_write"): "stream write op",
    ("plans/etl_queries.py", "q209_observed_ingest"): "ingest staging",
    ("plans/etl_queries.py", "q213_merge_rerun_idempotence"): "idempotent "
    "merge rerun: writes the same changeset twice on purpose",
    ("plans/training_queries.py", "q119_bloom_pruned_join"): "bloom-pruned "
    "join needs an on-disk build side for the runtime filter",
    ("plans/workflow_queries.py", "_stream_attribution"): "stream staging",
    ("plans/workflow_queries.py", "_stage"): "q97 production-path stream "
    "staging (per-side time-slice writer, run per side from §2.6 threads)",
    ("plans/workflow_queries.py", "q120_stream_sessions"): "stream staging",
    ("plans/workflow_queries.py", "_stage_feed"): "q130 stream staging "
    "(parity-split feed files, §2.6-overlapped with the rollup seed)",
    ("plans/workflow_queries.py", "_seed_rollup"): "q130 empty rollup-table "
    "seed write (the MergeWriter target, §2.6-overlapped with the feed)",
    ("plans/workflow_queries.py", "q144_stream_static_enrich"): "stream staging",
    ("plans/workflow_queries.py", "_sent_clicks"): "q242 click-side "
    "sentinel staging (one literal row into the feed)",
    ("plans/workflow_queries.py", "_sent_purchases"): "q242 purchase-side "
    "sentinel staging (one literal row into the feed)",
    ("plans/workflow_queries.py", "_stage_clicks"): "q242 click-side feed "
    "staging (real rows + two watermark sentinels, mtime-ordered)",
    ("plans/workflow_queries.py", "_stage_purchases"): "q242 purchase-side "
    "feed staging (real rows + two watermark sentinels, mtime-ordered)",
}

#: receivers whose .first(...) / .head(...) are column expressions or
#: pandas-frame ops, not Spark actions
_FUNC_RECEIVERS = {"F", "functions"}


def _scan(path: str):
    """Yield (lineno, attr, enclosing_function, kind) violations-candidates."""
    tree = ast.parse(open(path).read())
    out = []
    stack: list[str] = []

    class V(ast.NodeVisitor):
        def visit_FunctionDef(self, n):
            stack.append(n.name)
            self.generic_visit(n)
            stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, n):
            f = n.func
            if isinstance(f, ast.Attribute):
                fun = stack[-1] if stack else "<module>"
                recv = f.value
                recv_name = recv.id if isinstance(recv, ast.Name) else None
                if f.attr in COLLECT_LIKE and recv_name not in _FUNC_RECEIVERS:
                    out.append((n.lineno, f.attr, fun, "action"))
                # walk the receiver chain looking for a `.write` link
                src, depth = recv, 0
                while depth < 12:
                    if isinstance(src, ast.Attribute):
                        if src.attr == "write":
                            out.append((n.lineno, f"write.{f.attr}", fun, "write"))
                            break
                        src = src.value
                    elif isinstance(src, ast.Call):
                        src = src.func
                    else:
                        break
                    depth += 1
            self.generic_visit(n)

    V().visit(tree)
    return out


def _package_files():
    for scope in SCOPES:
        d = os.path.join(PKG, scope)
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".py"):
                yield scope + "/" + fn, os.path.join(d, fn)


def test_no_driver_side_actions_outside_whitelisted_seams():
    violations = []
    used_action, used_write = set(), set()
    for rel, path in _package_files():
        for lineno, attr, fun, kind in _scan(path):
            if kind == "action":
                key = (rel, fun, attr)
                if key in ACTION_SEAMS:
                    used_action.add(key)
                else:
                    violations.append(f"{rel}:{lineno} .{attr}() in {fun}()")
            else:
                key = (rel, fun)
                if key in WRITE_SEAMS:
                    used_write.add(key)
                else:
                    violations.append(f"{rel}:{lineno} {attr} in {fun}()")
    assert not violations, (
        "driver-side action/write outside the whitelisted staging seams "
        "(see module docstring; add a seam entry WITH justification only "
        "for one-row staging reads or write-path operators):\n  "
        + "\n  ".join(violations)
    )


def test_whitelist_entries_are_not_stale():
    """A seam whose call disappeared must leave the whitelist too."""
    found_action, found_write = set(), set()
    for rel, path in _package_files():
        for lineno, attr, fun, kind in _scan(path):
            if kind == "action":
                found_action.add((rel, fun, attr))
            else:
                found_write.add((rel, fun))
    stale = [k for k in ACTION_SEAMS if k not in found_action] + [
        k for k in WRITE_SEAMS if k not in found_write
    ]
    assert not stale, f"stale whitelist entries (code no longer calls them): {stale}"


@pytest.mark.parametrize("scope", SCOPES)
def test_scope_directories_exist(scope):
    assert os.path.isdir(os.path.join(PKG, scope))
