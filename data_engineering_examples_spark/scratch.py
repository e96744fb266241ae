"""Per-session scratch roots for queries that materialize an intermediate
table layout (hive partitioning, bucketing, compaction, streaming fixtures).

The registry's query functions return LAZY DataFrames — the caller
(driver, bench, tests) collects after the function returns — so a query
cannot remove its own scratch directory before the read happens.  The
old pattern (``tempfile.mkdtemp`` per call) therefore leaked one full
copy of the staged input per invocation: a bench run at n=4 iterations
held four copies, and nothing ever deleted them.

This module fixes the leak with two properties:

1. **Stable per-(process, query) directories.**  ``scratch_dir(name)``
   returns the same path every time within a process and wipes it clean
   before handing it back, so repeated invocations (bench iterations,
   test retries) REUSE the space instead of accumulating copies.  The
   contract: the previous invocation's result must be materialized
   before the query is invoked again — true for the driver, bench, and
   pytest, all of which collect each result before moving on.

2. **atexit removal of the whole root.**  The root carries the pid so
   concurrent sessions on one machine never collide, and the process
   removes it on exit — nothing survives the session.

At real scale this staging would live in the job's scratch bucket/HDFS
tmp with TTL policy; the lifecycle contract (stable path, overwrite on
rerun, reaped at session end) is the same one implemented here.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading

_ROOT: str | None = None
#: scratch_root() is reachable from concurrent driver threads (the
#: guide-§2.6 overlap seams call materialize() from run_concurrently
#: workers); without the lock two first-callers could each mkdtemp,
#: splitting substrates across roots and orphaning one of them.
_ROOT_LOCK = threading.Lock()

#: per-name invocation counter for :func:`materialize` path salting —
#: see the generation contract in its docstring.
_MATERIALIZE_GEN: dict[str, int] = {}


def scratch_root() -> str:
    """Lazily create the per-process scratch root (removed atexit)."""
    global _ROOT
    with _ROOT_LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix=f"spark_graft_scratch_{os.getpid()}_")
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
        return _ROOT


def scratch_dir(name: str) -> str:
    """Stable scratch dir for ``name``; wiped clean on every call."""
    p = os.path.join(scratch_root(), name)
    if os.path.exists(p):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    return p


def materialize(df, name: str):
    """Materialize a shared substrate once and return a re-readable DataFrame.

    Several queries compute an intermediate (LSH band table, KMV sketch,
    k-means seed assignment, edge list) that feeds MULTIPLE downstream
    branches; without a cut point Spark recomputes the substrate per
    branch and the lineage doubles each iteration.  The substrate is
    written to a per-process scratch directory and read back: the
    materialized blocks live on durable storage, so losing an executor
    merely re-reads the file split — the job survives.  At real scale
    the scratch root maps to the job's scratch bucket / HDFS tmp (see
    module docstring); the lifecycle contract is identical.

    ``name`` must be unique per call site (it keys the scratch path).
    Repeated invocations of the SAME call site are generation-salted:
    call ``g`` writes ``materialize/<name>__g<g>`` and deletes
    generation ``g-2``, so at most TWO copies per name ever exist (the
    space-reuse contract above) while the PREVIOUS invocation's frame
    stays readable — re-running a query before collecting the prior
    result no longer silently rebinds the old frame to new data.  A
    frame older than one generation fails LOUDLY (path gone) instead of
    silently reading the wrong rows.
    """
    gen = _MATERIALIZE_GEN.get(name, -1) + 1
    _MATERIALIZE_GEN[name] = gen
    base = os.path.join(scratch_root(), "materialize")
    if gen >= 2:
        shutil.rmtree(
            os.path.join(base, f"{name}__g{gen - 2}"), ignore_errors=True
        )
    path = scratch_dir(os.path.join("materialize", f"{name}__g{gen}"))
    df.write.mode("overwrite").parquet(path)
    # explicit schema: an EMPTY substrate (e.g. a no-edges graph at tiny
    # SF) writes zero part files, and a schemaless read of that throws
    # UNABLE_TO_INFER_SCHEMA instead of returning the empty frame
    return df.sparkSession.read.schema(df.schema).parquet(path)


#: (session, substrate name, realpath(input dir)) -> (parquet path, schema).
#: Keys hold a STRONG reference to the SparkSession on purpose: it pins
#: object identity so a stopped-and-recreated session (a new Python
#: object) can never alias a stale entry, at the cost of a few hundred
#: bytes per dead session — nothing compared to the JVM it wrapped.
_SUBSTRATE_MEMO: dict = {}

#: substrate names served from the memo since the last drain — the
#: bench uses this to tag each query record as substrate-warm (r13
#: verdict ask #1: warm serving must be visible in the bench record,
#: not mistaken for a query-level speedup).
_SUBSTRATE_HITS: list[str] = []


def drain_substrate_hits() -> list[str]:
    """Return (and clear) the substrate names served from the memo
    since the last call.  Purely observational — no effect on the memo."""
    out = _SUBSTRATE_HITS[:]
    del _SUBSTRATE_HITS[:]
    return out


def memo_substrate(spark, name: str, sf_dir: str, build):
    """Session-scoped memo for a substrate SHARED BY MANY QUERIES.

    ``materialize()`` above cuts lineage WITHIN one query invocation;
    this cuts recomputation ACROSS queries: the first caller per
    (session, sf_dir) runs ``build()`` and writes the result to scratch
    parquet ONCE, and every later caller — the same query re-invoked, or
    a different query composing the same substrate (q72's dedup-cluster
    membership feeds q247/q250/q255; q24's LSH pair list feeds
    q72/q95/q105/q228/q238) — gets a fresh read of the same files.
    This is how a production corpus pipeline treats dedup clusters: a
    table materialized once per corpus snapshot, not a view recomputed
    by every consumer.

    Contract: the files under ``sf_dir`` are immutable for the life of
    the session (true for the driver, bench, and pytest, whose fixture
    dirs are write-once). ``build()`` must be deterministic — callers
    here derive everything from md5/sha2 over the input tables.
    """
    key = (spark, name, os.path.realpath(sf_dir))
    hit = _SUBSTRATE_MEMO.get(key)
    if hit is not None:
        path, schema = hit
        _SUBSTRATE_HITS.append(name)
        return spark.read.schema(schema).parquet(path)
    df = build()
    # The session id is part of the path digest: two live sessions in one
    # process (newSession(), or stop-and-recreate with old frames still
    # referenced) must never overwrite each other's backing files — the
    # in-memory memo already keys by session object, so the files must
    # be disjoint per session too.
    digest = hashlib.md5(f"{id(spark)}::{key[2]}".encode()).hexdigest()[:8]
    path = os.path.join(scratch_root(), "substrate", f"{name}__{digest}")
    df.write.mode("overwrite").parquet(path)
    _SUBSTRATE_MEMO[key] = (path, df.schema)
    return spark.read.schema(df.schema).parquet(path)

