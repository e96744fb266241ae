"""L0 — SparkSession factory.

The reference delegates all execution to IRIS SQL / pandas (SURVEY.md §4);
here the equivalent substrate is one tuned SparkSession. Settings are chosen
for the local[N] test harness but are the same knobs that matter on a real
cluster: AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to parallelism, Arrow enabled for the Pandas-UDF
slow path, UTC session timezone so results compare bit-for-bit against the
DuckDB oracle, and a generated-code cache large enough to hold every class
the query registry compiles, keyed by sources that carry no run-dependent
stage ids, so a query run again in the same session is served its
compiled classes instead of recompiling them (``codegen_compiles`` reads
the compile count).
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
        # Spark keeps the classes Janino compiles for whole-stage and
        # expression codegen in one JVM-wide LRU cache of 100 entries by
        # default.  Every workload here compiles more distinct classes
        # than that per pass (olap_star's 8 queries 128, etl_dedup's 9
        # queries 218, the full 279-query registry 3.3k at sf0.01), so
        # the default cache never hits and every warm run recompiles
        # every class, then runs it interpreted until the JIT catches up.
        # 8192 holds the registry's working set about 2.5 times over,
        # so a long-lived session serving other traffic as well still
        # keeps it; two registry passes with it cost 26 MB more
        # Metaspace and 16 MB more code heap.  A static conf: the cache
        # is built once per JVM, so it must be set before getOrCreate.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # The cache is keyed by the generated source, and by default a
        # whole-stage class is named after its codegen stage id.  Under
        # AQE those ids follow the order in which query stages are
        # created, which follows which shuffle finishes first, so the
        # same pipeline gets another id, hence another source, from run
        # to run: q73, q199 and q201 recompiled 22 to 46 classes in each
        # warm sf0.01 pass (two probes, two warm passes each), all of
        # them a cached class under another stage id.  Without the id in
        # the name the source is the same and the cache hits (0 every
        # warm pass).  Plans and `explain` still number their stages.
        .config("spark.sql.codegen.useIdInClassName", "false")
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


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram, which every
    cache miss of the generated-code cache adds one to.  The difference
    across a run is that run's recompilation; a warm run reads 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
