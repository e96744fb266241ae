"""L1 — generic relational sources (the driver's TPC-H-ish star schema).

Mirrors the reference's "scan" surface (SURVEY.md §2.1 S1-S3): where the
reference issues SQL text to IRIS and materialises `fetchall()` into pandas,
here a scan is a lazy `spark.read.parquet` whose projection/predicates are
pushed into the parquet reader by Catalyst — no eager client materialisation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: (applicationId, realpath(path)) -> StructType.  Schema-INFERENCE memo
#: for the immutable input tables (testdata + committed fixtures): every
#: ``spark.read.parquet(path)`` without an explicit schema pays a
#: driver-side footer read + Parquet->Catalyst schema conversion, which
#: measures 100-170 ms per call on this host against 16-35 ms with an
#: explicit schema — and the registry re-reads the same ~10 paths from
#: every one of 279 queries.  A production engine resolves table schemas
#: from the catalog/metastore exactly once, not by re-sampling footers
#: per query; this memo is that catalog lookup.  METADATA only — the
#: scan itself still reads the parquet files on every execution, so no
#: result or data caching is introduced.  Contract (same as the
#: scale_out partition memo below): the files behind a path are
#: immutable for the life of an application — true for the driver,
#: bench, and pytest, whose input dirs are write-once.  Keyed by
#: applicationId so a stopped-and-recreated session can never resurrect
#: a stale entry.
_SCHEMA_MEMO: dict = {}


def read_immutable_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` for WRITE-ONCE inputs, with the schema
    inference memoized per (application, path).  Never use this for
    scratch/staging paths that are rewritten within a session."""
    key = (spark.sparkContext.applicationId, os.path.realpath(path))
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)

def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet has shipped with two physical types for ``ts``:
    TIMESTAMP(NANOS) — which Spark's vectorized parquet reader rejects
    ([PARQUET_TYPE_ILLEGAL]) — and plain TIMESTAMP(MICROS), which reads
    directly as TIMESTAMP_NTZ. Handle both: when the column arrives as
    raw int64 nanos (via ``nanosAsLong``), truncate to a microsecond
    timestamp, matching DuckDB's TIMESTAMP_NS → TIMESTAMP cast; when it
    is already a timestamp, pass it through untouched.

    NOTE: this sets ``spark.sql.legacy.parquet.nanosAsLong=true`` on the
    caller's session and deliberately does NOT restore it — the conf is
    consulted again at physical-scan time (the plan is lazy), so restoring
    it here would break execution. With micros data the conf is inert.

    The rebuilt ts is TIMESTAMP_NTZ (wall-clock, no zone) so downstream
    formatting is independent of the session timezone — ``timestampadd``
    over an NTZ literal yields NTZ without consulting the session zone,
    where ``timestamp_micros`` would give LTZ → tz-dependent text."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_immutable_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if not isinstance(ts_type, LongType):
        # Guard the pass-through: TIMESTAMP(MICROS, isAdjustedToUTC=true)
        # reads as TIMESTAMP_LTZ, and formatting an LTZ consults the
        # session timezone — silently breaking cross-engine parity if a
        # testdata regeneration flips the flag. Normalize LTZ to NTZ
        # (deterministic: the session timezone is pinned UTC in
        # session.py), and fail loudly on anything else so a new
        # physical type is a visible adapter change here, not a
        # scattered hash mismatch downstream.
        if isinstance(ts_type, TimestampNTZType):
            return df  # already TIMESTAMP_NTZ — nothing to rebuild
        if isinstance(ts_type, TimestampType):
            return df.withColumn("ts", F.to_timestamp_ntz("ts"))
        raise TypeError(
            f"events.ts read as {ts_type}; expected TIMESTAMP_NTZ, "
            "TIMESTAMP_LTZ, or int64 nanos — extend _read_events for "
            "this physical type"
        )
    # integer div — ns values exceed 2^53, double division would round
    return df.withColumn(
        "ts",
        F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
    )


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Lazy DataFrames for each table in ``sf_dir``; nothing is read until
    an action runs, so column pruning / predicate pushdown reach the scan."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = (
                _read_events(spark, path)
                if name == "events"
                else read_immutable_parquet(spark, path)
            )
    return out


#: memo for scale_out's partition probe: logical-plan fingerprint →
#: scan partition count. The probe (df.rdd.getNumPartitions) forces a
#: plan→RDD conversion costing ~0.1-0.3s; every scale_out caller builds
#: the same scan per invocation, so the count is stable per (plan,
#: session) and one probe per shape suffices.
#:
#: CONTRACT: the memo assumes inputs are immutable for the lifetime of
#: an application — true for this engine (the testdata parquet is
#: read-only; scratch substrates never pass through scale_out). If the
#: files behind a semantically-identical plan were rewritten with a
#: different file count mid-application, the stale count would merely
#: cause one avoidable (or one missing) repartition — a perf wobble,
#: never a correctness issue. Bounded LRU so a long-lived session
#: (notebook, streaming driver) can't grow it without limit.
_SCALE_OUT_PARTS: dict = {}
_SCALE_OUT_PARTS_MAX = 1024


def scale_out(df: DataFrame) -> DataFrame:
    """Unlock executor parallelism for CPU-heavy map stages over small
    scans: repartition ONLY when the scan yields fewer partitions than
    the cluster's default parallelism.

    The trap this fixes: a compute-bound, shuffle-free pipeline (per-char
    hashing, per-token fingerprints) inherits the SCAN's parallelism, and
    a dataset that arrives as one small parquet file — one row group —
    cannot be split, so all the CPU lands on a single core. At real scale
    the input is many files/row-groups, the partition count exceeds the
    core count, and this is a no-op; below that threshold the data is by
    definition small, so the extra exchange is cheap relative to the map
    work it parallelizes."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # applicationId (not id(session)): object identity can be recycled
    # after a stopped session is collected, which would resurrect a
    # stale count for a new session with different configs
    key = (spark.sparkContext.applicationId, df.semanticHash())
    n = _SCALE_OUT_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_SCALE_OUT_PARTS) >= _SCALE_OUT_PARTS_MAX:
            # LRU-ish: dicts iterate in insertion order; dropping the
            # oldest entry bounds memory without tracking access times
            _SCALE_OUT_PARTS.pop(next(iter(_SCALE_OUT_PARTS)))
        _SCALE_OUT_PARTS[key] = n
    else:
        # refresh recency so hot shapes survive eviction
        _SCALE_OUT_PARTS[key] = _SCALE_OUT_PARTS.pop(key)
    if n < target:
        return df.repartition(target)
    return df
