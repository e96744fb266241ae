"""Per-layer metrics of one traced pass, from its spans, the Spark jobs
and stages submitted inside each query's window, the streaming progress
the listener kept, and the process tree's CPU.

Jobs belong to the query whose [start, end] window holds their submission
time.  The loop is closed (each query waits for the previous one), so the
window catches jobs that escape a thread-local job group: streaming
micro-batches on the stream's thread and ``run_concurrently`` workers.
"""

from __future__ import annotations

import statistics

from spans import union_s

MB = 1024.0 * 1024.0

#: spans reported as ``<name>.calls`` and ``<name>.s``
CALL_SPANS = (
    "scratch.materialize",
    "operators.graph.cc",
    "operators.graph.kcore",
    "sinks.merge_writer.merge",
    "sources.layout.swap_write",
    "sources.versioned.write_version",
)


def _dur(s) -> float:
    return s.end - s.start


def pass_metrics(spans, store, progress, started, cpu, workers_started,
                 slots: int) -> dict[str, float]:
    """Every layer metric of one traced pass."""
    m: dict[str, float] = {}
    roots = [s for s in spans if s.name == "query"]
    jobs, exec_s, gap_s = [], 0.0, 0.0
    for r in roots:
        qj = store.jobs_between(r.start, r.end)
        jobs.extend(qj)
        busy = union_s([(j["submissionTime"] / 1000, j["completionTime"] / 1000)
                        for j in qj])
        exec_s += busy
        gap_s += max(0.0, _dur(r) - busy)
    stages = store.stages_of(jobs)
    task_run = sum(s["executorRunTime"] for s in stages) / 1000
    m["spark.exec_s"] = exec_s
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s["numCompleteTasks"] for s in stages)
    m["spark.task_cpu_s"] = sum(s["executorCpuTime"] for s in stages) / 1e9
    m["spark.task_run_s"] = task_run
    m["spark.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1000
    m["spark.slot_busy_frac"] = task_run / (slots * exec_s) if exec_s else 0.0
    m["spark.driver_gap_s"] = gap_s
    m["spark.shuffle_mb"] = sum(s["shuffleWriteBytes"] for s in stages) / MB
    m["spark.input_mb"] = sum(s["inputBytes"] for s in stages) / MB
    m["spark.output_mb"] = sum(s["outputBytes"] for s in stages) / MB

    builds = [s for s in spans if s.name == "plans.build"]
    m["plans.build_s"] = sum(_dur(s) for s in builds)
    m["plans.build_jobs"] = sum(len(store.jobs_between(s.start, s.end)) for s in builds)

    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    for name in CALL_SPANS:
        ss = by_name.get(name, [])
        m[f"{name}.calls"] = len(ss)
        m[f"{name}.s"] = sum(_dur(s) for s in ss)
    cc = by_name.get("operators.graph.cc", [])
    m["operators.graph.cc.jobs"] = sum(len(store.jobs_between(s.start, s.end)) for s in cc)
    memo = by_name.get("scratch.memo_substrate", [])
    m["scratch.memo_substrate.hits"] = sum(1 for s in memo if not s.info.get("miss"))
    m["scratch.memo_substrate.misses"] = sum(1 for s in memo if s.info.get("miss"))
    m["scratch.memo_substrate.s"] = sum(_dur(s) for s in memo)

    m["python.worker_cpu_s"] = cpu["workers"]
    m["python.workers_started"] = workers_started
    m["driver.cpu_s"] = cpu["driver"]
    m["jvm.cpu_s"] = cpu["jvm"]

    m["streaming.queries"] = len(started)
    m["streaming.batches"] = len(progress)
    m["streaming.batch_ms_p50"] = (
        statistics.median(p["batch_ms"] for p in progress) if progress else 0.0)
    m["streaming.drain_s"] = sum(_dur(s) for s in by_name.get("streaming.drain", []))
    m["streaming.input_rows"] = sum(p["input_rows"] for p in progress)
    last: dict[str, dict] = {}
    for p in progress:
        if p["id"] not in last or p["batch"] >= last[p["id"]]["batch"]:
            last[p["id"]] = p
    m["streaming.state_rows"] = sum(p["state_rows"] for p in last.values())
    return m


def group_jobs(store, group: str) -> int:
    """Jobs Spark attributes to a job group (the thread-local view)."""
    return sum(1 for j in store.jobs.values() if j.get("jobGroup") == group)
