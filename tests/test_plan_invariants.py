"""Hard physical-plan invariants over EVERY registered query — the
plan-shape contract that keeps the workload scale-safe:

* no CartesianProduct anywhere (candidate generation must be bucketed);
* no row-at-a-time BatchEvalPython — Python only via Arrow batches
  (ArrowEvalPython / MapInPandas);
* every per-query limit becomes TakeOrderedAndProject or CollectLimit,
  never a global sort feeding a limit.
"""

from __future__ import annotations

import pytest

from data_engineering_examples_spark.plans.registry import all_specs

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def built(spark):
    return {name: spec.fn(spark, SF) for name, spec in all_specs().items()}


@pytest.fixture(scope="module")
def plans(built):
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in built.items()
    }


def test_no_cartesian_product(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], offenders


def test_no_row_at_a_time_python(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert offenders == [], offenders


def test_python_stages_are_arrow_batched(plans):
    with_python = {
        n: p
        for n, p in plans.items()
        if "ArrowEvalPython" in p or "MapInPandas" in p
    }
    # the UDF surface exists and is Arrow-only
    assert len(with_python) >= 3


def test_limits_are_topk_not_global_sort(plans):
    # an ordered limit must execute as TakeOrderedAndProject (per-partition
    # top-k + k-row merge), never a full Sort materialized under a
    # GlobalLimit. (GlobalLimit always carries a LocalLimit child, so the
    # check must target the Sort-under-limit shape specifically.)
    offenders = [
        n
        for n, p in plans.items()
        if "GlobalLimit" in p and "Sort " in p and "TakeOrderedAndProject" not in p
    ]
    assert offenders == [], offenders


# Unpartitioned Window nodes move EVERY input row to one partition — the
# single-reducer trap. The ONLY acceptable form is a window whose input
# is already a bounded-domain aggregate (a handful of rows by
# construction), and each such case must be whitelisted here WITH the
# bound that justifies it. Everything else must decompose (the
# q88/q99 distinct-value rank pattern, TakeOrdered, or per-partition
# offsets as in operators/ml.py:_global_rank).
BOUNDED_DOMAIN_WINDOWS = {
    # window input is one row per document source (≤ a few dozen)
    "q81_source_mix",
    # window input is one row per DISTINCT occurrence count (≪ vocab)
    "q88_vocab_build",
    # window input is one row per DISTINCT quality score (bounded grid)
    "q99_token_curriculum",
    # q197_decile_gains was delisted in r6: near-unique sum-scores make
    # the distinct-score domain ≈ |users|, so its cumulative now runs as
    # range-sort + per-partition offsets with zero unpartitioned windows
    # q96-style cumulative over distinct totalprice values per priority
    # (those are partitioned; listed here only if a plan change ever
    # makes the 10-row final cumulative unpartitioned)
}


def _top_level_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth >= 1:
            cur += ch
    return groups


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window/WindowGroupLimit nodes with an EMPTY partition spec.

    Print formats (verified empirically on Spark 4.1):
    ``Window [exprs], [partitionSpec], [orderSpec]`` — a 2-group form is
    either unpartitioned+ordered (2nd group has ASC/DESC) or
    partitioned+unordered (2nd group is plain columns); a <2-group form
    is the global ``OVER ()``. ``WindowGroupLimit [partitionSpec],
    [orderSpec], fn, k[, mode]`` — unpartitioned iff group 1 is empty."""
    hits = []
    for line in plan.splitlines():
        t = line.strip()
        if "WindowGroupLimit " in t:
            g = _top_level_groups(t[t.find("WindowGroupLimit "):])
            if g and g[0].strip() == "":
                hits.append(t[:120])
        elif "Window " in t and "windowspecdefinition" in t:
            g = _top_level_groups(t[t.find("Window "):])
            if len(g) < 2 or (len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1])):
                hits.append(t[:120])
    return hits


def test_no_unbounded_single_partition_windows(plans):
    offenders = {
        n: _unpartitioned_windows(p)
        for n, p in plans.items()
        if n not in BOUNDED_DOMAIN_WINDOWS and _unpartitioned_windows(p)
    }
    assert offenders == {}, offenders


def test_whitelisted_windows_are_still_present(plans):
    # the whitelist must not rot: every entry still has its (documented,
    # bounded) unpartitioned window — drop the entry when the query stops
    # needing it
    for n in BOUNDED_DOMAIN_WINDOWS:
        assert _unpartitioned_windows(plans[n]), n


def test_no_raw_local_checkpoint_outside_materialize_seam():
    """Spark's local checkpoint is not fault-tolerant (a lost executor
    kills the job — no recompute path) and pins blocks in executor
    memory, so nothing in the package may call it — not even
    ``scratch.materialize()``, whose one implementation is a durable
    scratch-parquet write-and-read."""
    import pathlib

    banned = "local" + "Checkpoint"  # split so a repo-wide grep for it stays empty
    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_engineering_examples_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if banned in code:
                offenders.append(f"{py.name}:{i}")
    assert offenders == [], offenders


def test_no_driver_side_collect_in_package():
    """The only acceptable driver materialization is in tools/tests. A
    ``.collect()`` inside the package means an operator is looping rows
    through the driver — the state-rewrite trap (a driver OOM at a 100 TB
    task queue); writes must go executor-side (temp dir + rename swap)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_engineering_examples_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".collect()" in code or ".toPandas()" in code:
                offenders.append(f"{py.name}:{i}")
    assert offenders == [], offenders


def test_driver_first_calls_are_single_row_bounds_only():
    """``.first()`` in the package is tolerated ONLY for one-row bound
    fetches feeding fixture staging (a time max, a min) — never inside
    an operator's data path. Pin the exact call sites so a new one is a
    conscious decision."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "data_engineering_examples_spark"
    sites = []
    for py in pkg.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".first()" in code or ".head(" in code:
                sites.append(py.name)
    # etl_queries.py: q150's WAP audit fetches ONE aggregate row (the
    # audit verdict) before deciding to publish — a gate scalar, not a
    # data path. workflow_queries.py: q97's production-path time-bound
    # fetch feeding its sliced fixture staging (q120/q242's sentinel
    # bounds ride the staging writes as observe() metrics since r14).
    # graph.py: connected_components' fixpoint probe — one
    # exact-decimal label sum per barrier (the r9 sf1 sweep showed
    # fixed round budgets silently truncate components at scale).
    # training_queries.py (r13): q240's one-row sufficient-statistics
    # fetch (the GD trajectory is driver arithmetic on nine integers)
    # and q241's one-row histogram fetch per boosting round (split
    # selection over 14 candidates) — both are the between-pass decision
    # scalars every distributed trainer pulls to the driver, never data.
    # text_queries.py (r14): q239's one-row BPE merge-winner fetch per
    # round (TakeOrdered argmax of the vocab pair-count aggregate).
    assert sorted(sites) == [
        "etl_queries.py",
        "graph.py",
        "text_queries.py",
        "training_queries.py",
        "training_queries.py",
        "workflow_queries.py",
    ], sites


def test_salted_interval_join_shuffles_on_salt(plans):
    """q234's whole point is the shuffle key: the bucket join must
    exchange on (bkt, __salt) — if the salt column falls out of the
    partitioning (e.g. an optimizer rewrite drops it from the join key)
    the query silently degrades to the unsalted straggler plan while
    still returning correct rows."""
    p = plans["q234_concurrent_sessions_salted"]
    assert "__salt" in p
    # the salt must be part of the equi-join KEY (alongside bkt).  At
    # test SF the tiny covers side broadcasts, so there is no exchange
    # to inspect — but a key of (bkt, __salt) is exactly what becomes
    # hashpartitioning(bkt, __salt) once both sides are shuffle-sized;
    # accept either physical form, require the salted key.
    salted_joins = [
        ln for ln in p.splitlines()
        if "Join [" in ln and "__salt" in ln and "bkt" in ln
    ]
    salted_exchanges = [
        ln for ln in p.splitlines()
        if "hashpartitioning" in ln and "__salt" in ln and "bkt" in ln
    ]
    assert salted_joins or salted_exchanges, p
    # and the unsalted baseline stays salt-free
    assert "__salt" not in plans["q233_concurrent_sessions"]


def test_output_schemas_are_scalar_only(built):
    """The driver's correctness harness canonicalizes results through a
    pandas sort/unique path that only accepts hashable scalar cells — an
    array<>/map<>/struct<>/binary top-level column crashes it (r9: q44's
    ``features array<double>`` recorded err, not pass, despite being
    oracle-exact).  Every registered query must therefore emit scalar
    columns only; vector-valued results posexplode to (dim, value) rows
    (q44) or split into one column per element (q40's quantiles)."""
    from pyspark.sql import types as T

    banned = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    offenders = {
        name: [f"{f.name}: {f.dataType.simpleString()}" for f in df.schema.fields
               if isinstance(f.dataType, banned)]
        for name, df in built.items()
    }
    offenders = {n: cols for n, cols in offenders.items() if cols}
    assert offenders == {}, offenders


# ---------------------------------------------------------------------------
# Oracle-side typing gates (r12, the q256 class-closer).  r11's one
# driver-red was a TYPE artifact, not a value bug: the oracle's
# ``sum(BIGINT)`` result is HUGEINT in DuckDB, and the driver's typed
# value-hash serializes int128 differently from Spark's int64 even when
# every value is equal.  Two gates make that class impossible:
#  1. every oracle column's DuckDB type must come from the harness-safe
#     inventory (the exact set observed across 200+ driver-green rows);
#  2. each oracle column's type must agree with the Spark column it is
#     compared against (BIGINT↔long, INTEGER↔int, ...), so no width or
#     family mismatch can reach the driver at all.


@pytest.fixture(scope="module")
def oracle_types():
    """DuckDB DESCRIBE (plan-only, no execution) for every oracle."""
    from tools.check_oracle import duck_connect

    con = duck_connect(SF)
    out = {}
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        out[name] = {
            col: typ for col, typ, *_ in con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        }
    con.close()
    return out


# Pandas round-trips every one of these losslessly and identically from
# both engines.  Conspicuously absent: HUGEINT (int128 — the q256 red),
# DECIMAL, REAL/FLOAT, unsigned ints, and nested types.
_SAFE_DUCK_TYPES = {
    "BIGINT", "INTEGER", "VARCHAR", "DOUBLE", "DATE", "TIMESTAMP", "BOOLEAN",
}

_SPARK_TO_DUCK = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "string": "VARCHAR",
    "double": "DOUBLE",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "boolean": "BOOLEAN",
}


def test_oracle_types_are_harness_safe(oracle_types):
    offenders = {
        name: [f"{c}: {t}" for c, t in cols.items() if t not in _SAFE_DUCK_TYPES]
        for name, cols in oracle_types.items()
    }
    offenders = {n: cols for n, cols in offenders.items() if cols}
    assert offenders == {}, offenders


def test_oracle_types_match_spark_schema(built, oracle_types):
    offenders = {}
    for name, cols in oracle_types.items():
        spark_types = {
            f.name: f.dataType.simpleString() for f in built[name].schema.fields
        }
        bad = []
        for col, styp in spark_types.items():
            want = _SPARK_TO_DUCK.get(styp)
            have = cols.get(col)
            if want is None:
                bad.append(f"{col}: spark type {styp} has no duck mapping")
            elif have != want:
                bad.append(f"{col}: spark {styp} vs duck {have}")
        if bad:
            offenders[name] = bad
    assert offenders == {}, offenders
