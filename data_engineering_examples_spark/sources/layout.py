"""Physical table layout for scale: partitioned and bucketed parquet.

At 100 TB, layout decisions dominate query cost long before operator
tuning does:

* **Partitioned writes** (``partitionBy``) — one directory per partition
  value; filters on the partition column prune whole directories at plan
  time (``PartitionFilters`` in the scan node), so a day/type-scoped
  query reads only its slice of the 100 TB, not all of it.
* **Bucketed writes** (``bucketBy``) — rows pre-hashed into a fixed
  number of files per bucket key. Two tables bucketed the same way
  equi-join WITHOUT a shuffle (no Exchange in the plan): at 1000
  executors this converts the biggest network stage of a fact-fact join
  into purely node-local work. The reference's repeated Patient⋈Condition
  ⋈Observation joins are the canonical beneficiaries: bucket every FHIR
  silver table by ``patient`` key once at write time, and each cohort
  query afterward skips its widest exchanges.

Bucketed tables must go through the session catalog (``saveAsTable``) —
plain ``.parquet(path)`` writes ignore ``bucketBy``. Both helpers are
exercised by ``tests/test_storage_layout.py``, which asserts the physical
plans actually prune / skip the exchange (not just that the API ran).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Write ``df`` as parquet partitioned by ``partition_cols``.

    Choose low-cardinality, high-selectivity columns (event date, resource
    type, language): each distinct combination becomes a directory, and a
    filter on those columns becomes plan-time directory pruning. Avoid
    high-cardinality partition columns (user_id) — millions of tiny
    directories overload the file index instead of helping it.
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Save ``df`` as a bucketed catalog table (parquet under the hood).

    Joins/aggregations keyed on ``bucket_col`` between tables with the
    SAME bucket count skip their Exchange entirely. ``n_buckets`` is a
    write-time commitment — size it so one bucket of the table's eventual
    full size is a healthy task unit (128-512 MB)."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_sorted(df: DataFrame, path: str, cols: list[str], n_files: int = 8) -> None:
    """Write parquet range-clustered on ``cols``: rows range-partition
    into ``n_files`` contiguous key spans, sorted within each file. Every
    file then covers a NARROW min/max range for the cluster columns, so
    a selective filter skips whole files on footer stats alone (and row
    groups within the survivors) — the zone-map effect, without any
    index structure. This is the single-dimension clustering layout;
    partitionBy (q111) prunes on discrete values, this prunes on RANGES
    over high-cardinality keys. Exercised with a scan-metric assertion
    in ``tests/test_storage_layout.py``."""
    df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols).write.mode(
        "overwrite"
    ).parquet(path)


def recover_swap(path: str) -> bool:
    """Crash recovery for :func:`swap_write`: a death between the two
    renames leaves the ONLY copy at the ``.__swap_old__`` side path with
    the live path missing — restore it. Returns True if a restore
    happened. Idempotent; call before reading or rewriting a swap-managed
    directory."""
    import os

    old = path.rstrip("/") + ".__swap_old__"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def swap_write(df: DataFrame, path: str) -> None:
    """Replace the parquet dataset at ``path`` with ``df`` using the
    write-new → move-old-aside → move-new-in → drop-old discipline.

    ``df`` may READ from ``path`` (merge/compact rewrites): the new
    content is fully materialized to a side dir while the old dir is
    still readable, so the plan's scan and the rewrite never collide.
    The data always exists at either the live path or the retained
    ``.__swap_old__`` side path; a crash at any point is recoverable via
    :func:`recover_swap`, and the reader-visible gap shrinks to the
    instant between the two renames. That gap is the plain-parquet
    limit — a Delta/Iceberg metadata commit (MERGE INTO / OPTIMIZE) is
    the truly atomic form of this operation.
    """
    import os
    import shutil

    tmp = path.rstrip("/") + ".__swap_tmp__"
    old = path.rstrip("/") + ".__swap_old__"
    recover_swap(path)
    # any remaining tmp/old dir is superseded or incomplete: remove it up
    # front so the renames below cannot fail on EEXIST/ENOTEMPTY
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def compact_parquet(spark, path: str, target_mb: int = 256) -> int:
    """Rewrite a parquet dataset into ~``target_mb`` files (small-files
    compaction). Long-running ingestion — micro-batches, per-task state
    snapshots, streaming sinks — accretes thousands of tiny files; at
    scale the file-listing and per-file open costs then dominate scan
    time. The rewrite goes through :func:`swap_write`, so a crash at any
    point is recoverable and reruns clean up leftovers.

    Returns the number of parquet files written, counted after the swap.
    """
    import math
    import os

    recover_swap(path)
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_target = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    swap_write(spark.read.parquet(path).repartition(n_target), path)
    return sum(
        1
        for dp, _dn, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def morton_key(a, b, bits: int = 16):
    """Interleaved Morton (Z-order) code of two non-negative integer
    columns: bit i of ``a`` lands at position 2i, bit i of ``b`` at
    2i+1. Sorting by the result clusters rows so every file covers a
    narrow range in BOTH dimensions — multi-column zone-map skipping
    from a single sort key, the lakehouse Z-ORDER primitive. Pure
    shift/and/add column arithmetic (codegen, integer-exact); callers
    must ensure both keys fit in ``bits`` bits (values above are
    truncated, which degrades clustering but never correctness — the
    layout only affects which files a filter can skip)."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(add, terms)
