"""Per-query runtime profiler: jobs, stages, tasks, shuffle bytes, and
wall time per registered query, via the status-store REST API.

Where ``bench.py`` gives one wall-clock number per query and
``plan_audit.py`` gives the STATIC plan shape, this tool gives the
RUNTIME shape — how many jobs a query actually submits (each blocking
action, AQE stage wave, or probe is one), how many stages/tasks ran,
and how many bytes crossed each shuffle.  That is the measurement §1 of
the optimization guide asks for before touching anything: a query whose
wall time is dominated by 40 sequential 30 ms job waves needs a
different fix (fewer actions, overlapped jobs) than one with a single
10 s stage (per-task work) or one shuffling 100 MB (algorithm).

Usage:
    python tools/profile_queries.py q197_decile_gains q140_mad_outliers
    python tools/profile_queries.py --top 30          # slowest 30 by r12d
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/profile_queries.py ...

Writes a per-query JSON map to stdout (one line per query) with:
  sec        wall-clock of the noop-sink run (post-warmup, single run)
  jobs       Spark jobs submitted by the query
  stages     completed stage count (AQE reuse collapses duplicates)
  tasks      total task count
  shuf_mb    total shuffle read MB across its stages
  exec_sec   summed stage executorRunTime (executor-seconds, all cores)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_examples_spark.plans import all_specs  # noqa: E402


def _rest(app_base: str, path: str):
    with urllib.request.urlopen(f"{app_base}/{path}", timeout=10) as r:
        return json.load(r)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    specs = all_specs()
    if "--top" in sys.argv:
        n = int(sys.argv[sys.argv.index("--top") + 1])
        snap = json.load(
            open(os.path.join(os.path.dirname(__file__), "..",
                              "bench_snapshots", "r12d.json"))
        )["queries"]
        names = [q for q, _ in sorted(snap.items(), key=lambda kv: -kv[1])[:n]]
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # UI must be ON for the status REST API; everything else matches the
    # bench session so timings are comparable.
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    # warm-up (mirrors bench.py)
    specs["q01_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    def job_count() -> int:
        return len(_rest(base, "jobs"))

    def stage_snapshot() -> dict[int, dict]:
        return {s["stageId"]: s for s in _rest(base, "stages")}

    for name in names:
        spark.sparkContext.setJobDescription(name)
        j0, s0 = job_count(), stage_snapshot()
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        j1, s1 = job_count(), stage_snapshot()
        new_stages = [s for sid, s in s1.items() if sid not in s0]
        rec = {
            "query": name,
            "sec": round(dt, 3),
            "jobs": j1 - j0,
            "stages": len(new_stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in new_stages),
            "shuf_mb": round(
                sum(s.get("shuffleReadBytes", 0) for s in new_stages) / 1e6, 2
            ),
            "exec_sec": round(
                sum(
                    s.get("executorRunTime", 0) for s in new_stages
                ) / 1e3, 1
            ),
        }
        print(json.dumps(rec), flush=True)
        spark.sparkContext.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
