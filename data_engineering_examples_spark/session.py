"""L0 — SparkSession factory.

The reference delegates all execution to IRIS SQL / pandas (SURVEY.md §4);
here the equivalent substrate is one tuned SparkSession. Settings are chosen
for the local[N] test harness but are the same knobs that matter on a real
cluster: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to parallelism, Arrow enabled for the Pandas-UDF
slow path, UTC session timezone so results compare bit-for-bit against the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "data-engineering-examples-spark",
    cpus: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    On a real cluster ``master``/memory come from spark-submit; everything
    set here is master-independent. ``spark.sql.shuffle.partitions`` is a
    floor — AQE coalesces down when partitions are small and splits skewed
    ones, so at 100 TB the same config holds with a larger initial value
    (rule of thumb: ~2-3x total executor cores, target 64-256 MB per
    shuffle partition).

    Cores: ``cpus``, else ``SPARK_GRAFT_CPUS``, else the cores this
    process may run on.  The checkout is put on ``PYTHONPATH``, so a
    caller started from any directory reaches the package in its
    Python workers.
    """
    # Spark's Python workers import this package too, and they see
    # PYTHONPATH, not this process's sys.path: put the checkout on it
    # before the JVM, whose environment every worker inherits, starts
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in path:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *path])
    cpus = str(
        cpus
        or os.environ.get("SPARK_GRAFT_CPUS")
        or len(os.sched_getaffinity(0))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 defaults ANSI on, but the fail-loudly contract (double
        # x/0 RAISES divideByZeroError rather than yielding NULL) is load-
        # bearing: q231's centroid cosine and the SemDeDup pair kernel
        # both raise on zero-norm embeddings, and with ANSI off the JVM
        # cosine would instead yield NULL and carry on silently —
        # exactly the divergence the kernel guard exists to prevent.
        # Pin it so a config drift or a future default flip can't
        # change engine semantics underneath us.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local[N] runs driver + all executor threads in ONE JVM: 8g heap
        # was measured GC-tight under the 200+-query bench (multi-second
        # pauses landing on random queries); 16g is still modest against
        # the 128 GiB harness and irrelevant on a real cluster, where
        # executor memory comes from spark-submit.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
