"""Scale-stress probe for the multimodal decode family (q222/q261/q262/
q263): replicate the 432-row media fixture K-fold with shifted ids and
measure end-to-end wall time of each Arrow-batched mapInPandas audit
stage per replication decade.

The media fixture does not grow with the driver's scale factors (it is
a format-coverage corpus, not a volume corpus), so the sf sweeps never
stress these stages.  This probe closes that gap the same way
``gen_scale_synth.py`` does for the tabular families: payloads are
duplicated verbatim (decode work is per-row and content-independent, so
replication is a faithful volume model), ids are shifted per copy, and
every stage is timed over a full count() materialization.

The expectation to check against the recorded decades
(bench_snapshots/README.md): all four stages are map-only — no
exchange, no pairwise work — so wall time must grow ~linearly in K and
rows/s must hold roughly flat.  A superlinear decade here would mean a
shuffle crept into a decode plan (the plan-invariant tests assert there
is none; this probe is the runtime twin of that assert).

Usage:
    python tools/probe_media_scale.py [K ...]      # default decades 1 10 100

The session comes from ``session.get_spark``, so ``SPARK_GRAFT_CPUS``
and ``SPARK_DRIVER_MEMORY`` size it like every other entry point.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

FX = "/root/repo/fixtures"


def main() -> None:
    decades = [int(a) for a in sys.argv[1:]] or [1, 10, 100]

    from pyspark.sql import functions as F

    from data_engineering_examples_spark.plans import multimodal_queries as M
    from data_engineering_examples_spark.session import get_spark

    spark = get_spark("probe_media_scale")
    base = spark.read.parquet(f"{FX}/media.parquet")
    n_base = base.count()

    stages = {
        "q222_decode": M.q222_image_decode_audit,
        "q261_thumbnail": M.q261_image_thumbnail_audit,
        "q262_resample": M.q262_audio_resample_audit,
        "q263_container": M.q263_video_container_audit,
    }

    print(f"base rows: {n_base}")
    for k in decades:
        copies = spark.range(k).select(F.col("id").alias("copy"))
        rep = (
            base.crossJoin(F.broadcast(copies))
            .withColumn(
                "media_id",
                F.col("media_id") + F.col("copy") * (n_base + 1),
            )
            .drop("copy")
            .repartition(spark.sparkContext.defaultParallelism)
        )
        rep.write.mode("overwrite").parquet(f"/tmp/media_synth_{k}")
        scaled = spark.read.parquet(f"/tmp/media_synth_{k}")

        import unittest.mock as mock

        for name, fn in stages.items():
            with mock.patch.object(
                M, "_media", lambda s, df=scaled: df
            ):
                t0 = time.monotonic()
                n = fn(spark, "/root/testdata/sf0.01").count()
                dt = time.monotonic() - t0
            print(
                f"K={k:4d} {name:15s} rows={n:7d} wall={dt:7.2f}s "
                f"rows/s={n / dt:9.0f}"
            )


if __name__ == "__main__":
    main()
