"""The durable substrate-materialization seam (scratch.materialize).

Iterative/multi-consumer queries cut lineage through ONE seam: a
scratch-parquet write-and-read, durable so that a lost executor on a
real cluster re-reads a file split instead of failing the job.  These
tests pin the contract: rows and schema round-trip, the consumer plan
reads from scratch storage, re-runs keep the previous generation
readable, and an empty substrate keeps its schema.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_examples_spark.scratch import materialize, scratch_root


def _sample(spark):
    return spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 3).alias("v")
    )


def test_parquet_mode_roundtrips_rows_and_schema(spark):
    df = _sample(spark)
    out = materialize(df, "test_mat_parquet")
    # parquet read-back relaxes nullability; names and types must hold
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert sorted(r.id for r in out.toLocalIterator()) == list(range(100))


def test_parquet_mode_reads_from_scratch_storage(spark):
    out = materialize(_sample(spark), "test_mat_scan")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the consumer plan is a FileScan over the scratch root — durable
    # storage, not executor block-manager memory
    assert "Scan parquet" in plan or "FileScan" in plan, plan
    root = scratch_root()
    assert any(
        root in line for line in plan.splitlines() if "Location" in line
    ) or root in plan


def test_rerun_keeps_previous_generation_readable(spark):
    # generation salting: a re-invoked call site writes a NEW path, so
    # the previous invocation's still-deferred frame reads its own data
    # (the old wipe-in-place contract silently rebound it to new rows)
    a = materialize(spark.range(5), "test_mat_rerun")
    b = materialize(spark.range(9), "test_mat_rerun")
    assert b.count() == 9
    assert a.count() == 5  # deferred first frame still correct
    # space stays bounded at two generations per name: gen g-2 is
    # reaped when generation g is written
    c = materialize(spark.range(3), "test_mat_rerun")
    assert c.count() == 3
    base = os.path.join(scratch_root(), "materialize")
    gens = sorted(d for d in os.listdir(base) if d.startswith("test_mat_rerun__g"))
    assert gens == ["test_mat_rerun__g1", "test_mat_rerun__g2"]


def test_empty_substrate_roundtrips(spark):
    # a no-rows substrate (empty edge set, empty sketch) must come back
    # as an empty frame with the right schema, not UNABLE_TO_INFER_SCHEMA
    df = spark.range(10).filter("id < 0").select("id", (F.col("id") * 2).alias("v"))
    out = materialize(df, "test_mat_empty")
    assert out.count() == 0
    assert [f.name for f in out.schema] == ["id", "v"]
