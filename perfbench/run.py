"""Benchmark of the query engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 1 --trace 0

Run from the repository root.  The inputs are fixed: the repository's
sf0.01 test tables, committed under ``perfbench/data/``, and the committed
``fixtures/``.  The run starts the session with ``session.get_spark`` on
local[nproc - 1], performs the workload's set-up, checks every query of the
workload against its DuckDB oracle once (untimed; this also warms the JIT),
then runs whole timed passes until ``--seconds`` have passed and at least
the workload's number of passes ran (a traced run alternates untraced and
traced passes and makes that many of each).
A pass runs every query of the workload once, in an order drawn from the
seed (the seed sets nothing else); each query is its ``fn()`` call plus a
``noop`` write of the result, and each waits for the previous one (a closed
loop with one client).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics of the traced
ones, plus the tracing overhead.  The last line of standard output is one
JSON object; the full record of the run (host state, every pass and query,
the spans of a traced run) is written under ``.perfbench/records/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import layers  # noqa: E402
import oracle  # noqa: E402
import proc  # noqa: E402
import warm  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from store import StatusStore  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: driver heap, below the memory of small hosts
HEAP = "1g"
#: the repository's sf0.01 test tables: the ten tables the registry reads
DATA_DIR = os.path.join(HERE, "data")
#: interval of the Python-worker sampler in traced passes
WORKER_SAMPLE_S = 0.02


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``samples`` with at
    least ten samples beyond it; the maximum when there are fewer than 11."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def specs_for(prefixes: list[str]) -> dict:
    """Registry specs by query prefix (``q01`` -> ``q01_pricing_summary``),
    keyed by full name, in the given order."""
    from data_engineering_examples_spark.plans import all_specs

    by_prefix = {n.split("_")[0]: s for n, s in all_specs().items()}
    return {by_prefix[q].name: by_prefix[q] for q in prefixes}


class WorkerSampler(threading.Thread):
    """Adds the Python worker processes alive below the JVM to ``seen``."""

    def __init__(self, tree, seen: set) -> None:
        super().__init__(daemon=True)
        self.tree = tree
        self.seen = seen
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(WORKER_SAMPLE_S):
            self.seen |= self.tree.python_workers()

    def stop(self) -> None:
        self._done.set()
        self.join(5)


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.spark = None
        self.tree = None

    # -- set-up ----------------------------------------------------------
    def start(self) -> dict:
        """Start the session."""
        self.data_dir = DATA_DIR
        self.steal = proc.Steal()

        from data_engineering_examples_spark.session import get_spark

        self.cpus = max(1, len(os.sched_getaffinity(0)) - 1)
        self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.cpus)
        self.tree = proc.ProcessTree()
        self.tree.find_jvm()
        self.specs = specs_for(self.spec["queries"])
        return {"session_s": proc.process_age_s()}

    def setup(self) -> dict:
        """Start, then run the workload's set-up steps.  ``setup_s`` is the
        time from process start until the first timed pass can begin."""
        out = self.start()
        steps = {}
        for step in self.spec["warm"]:
            t = time.perf_counter()
            warm.STEPS[step](self.spark, self.data_dir)
            steps[step] = time.perf_counter() - t
        out["steps"] = steps
        out["setup_s"] = out["session_s"] + sum(steps.values())
        return out

    def start_trace(self) -> None:
        self.tracer = Tracer(self.run_id)
        self.store = StatusStore(self.spark)

    def run_query(self, name: str, pass_id: int, traced: bool) -> dict:
        """One timed query: ``fn()`` plus a noop write of its result.  A
        traced query also gets a job group, a root span, a ``plans.build``
        span around ``fn()``, and its job counts by window and by group."""
        q = {"query": name}
        sc = self.spark.sparkContext
        if traced:
            group = f"{self.run_id}:{pass_id}:{name}"
            sc.setJobGroup(group, name)
            root = self.tracer.query_start(name)
        tq = time.perf_counter()
        try:
            if traced:
                build = self.tracer.open("plans.build")
                try:
                    df = self.specs[name].fn(self.spark, self.data_dir)
                finally:
                    self.tracer.close(build)
            else:
                df = self.specs[name].fn(self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            q["ok"] = True
        except Exception as ex:  # noqa: BLE001 - counted as failed
            q["ok"] = False
            q["error"] = f"{type(ex).__name__}: {ex}"[:2000]
        q["latency_s"] = time.perf_counter() - tq
        if traced:
            self.tracer.query_end()
            sc._jsc.clearJobGroup()
            self.drain_listeners()
            self.store.refresh()
            q["window_jobs"] = len(self.store.jobs_between(root.start, root.end))
            q["group_jobs"] = layers.group_jobs(self.store, group)
        return q

    # -- timed passes ----------------------------------------------------
    def passes(self) -> list[dict]:
        trace = bool(self.args.trace)
        min_passes = self.spec["passes"] * (2 if trace else 1)
        if trace:
            self.start_trace()
        rng = random.Random(self.args.seed)
        names = list(self.specs)
        # Python workers alive when the timed passes begin; a traced pass
        # reports the workers seen since then that are not among them
        workers_before = self.tree.python_workers()
        workers_seen = set(workers_before)
        out = []
        t_start = time.perf_counter()
        while len(out) < min_passes or time.perf_counter() - t_start < self.args.seconds:
            p = len(out)
            traced = trace and p % 2 == 1
            order = rng.sample(names, len(names))
            if traced:
                self.tracer.pass_id = p
                self.tracer.bind(self.spark)
                workers_seen |= self.tree.python_workers()
                sampler = WorkerSampler(self.tree, workers_seen)
                sampler.start()
            cpu0 = self.tree.cpu()
            steal = proc.Steal()
            t0 = time.perf_counter()
            queries = [self.run_query(name, p, traced) for name in order]
            wall = time.perf_counter() - t0
            cpu1 = self.tree.cpu()
            rec = {"pass": p, "traced": traced, "order": order, "pass_s": wall,
                   "steal_frac": steal.frac(),
                   "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1}, "queries": queries}
            if traced:
                self.drain_listeners()
                self.store.refresh()
                sampler.stop()
                rec["workers_started"] = len(workers_seen - workers_before)
                self.tracer.unbind(self.spark)
            rec["probe_s"] = proc.probe_s()
            out.append(rec)
        return out

    def drain_listeners(self) -> None:
        """Wait until Spark's listeners, the status store's among them, have
        processed every event posted so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def layer_metrics(self, passes: list[dict]) -> dict:
        """Median over the traced passes of each per-layer metric."""
        listener = self.tracer.listener
        per_pass = []
        for rec in passes:
            if not rec["traced"]:
                continue
            p = rec["pass"]
            spans = [s for s in self.tracer.spans if s.pass_id == p]
            per_pass.append(layers.pass_metrics(
                spans, self.store,
                [e for e in listener.progress if e["pass"] == p],
                [e for e in listener.started if e["pass"] == p],
                rec["cpu"], rec["workers_started"], self.cpus))
        return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}

    # -- shut-down -------------------------------------------------------
    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process this run
        started to end."""
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            try:
                jvm.stdin.close()
                jvm.wait(30)
            except (OSError, subprocess.TimeoutExpired):
                jvm.kill()
                jvm.wait(10)
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            left = [p for p in proc.descendants(os.getpid())[1:] if proc.is_alive(p)]
            if not left:
                return
            time.sleep(0.1)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def summarize(setup: dict, oracle_res: dict, passes: list[dict]) -> dict:
    """End-to-end metrics over the untraced passes, and the counts."""
    matched = {n for n, r in oracle_res.items() if not r["problems"]}
    samples = [q for p in passes for q in p["queries"]]
    attempted = len(samples)
    success = sum(1 for q in samples if q["ok"] and q["query"] in matched)
    untraced = [p for p in passes if not p["traced"]]
    lat = [q["latency_s"] for p in untraced for q in p["queries"]]
    tail_v, tail_pct, tail_n = tail(lat)
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_s": statistics.median(p["pass_s"] for p in untraced),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail_v,
        "cpu_s": statistics.median(p["cpu"]["total"] for p in untraced),
        "success_frac": success / attempted,
    }
    return {"attempted": attempted, "failed": attempted - success,
            "metrics": metrics, "tail": {"percentile": tail_pct, "samples": tail_n}}


def host_info(cpus: int) -> dict:
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        sha = r.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "spark_master": f"local[{cpus}]",
            "heap": HEAP, "spark_version": pyspark.__version__,
            "python": sys.version.split()[0], "git_sha": sha}


UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
         "cpu_s": "s", "peak_rss_mb": "MB", "success_frac": "fraction"}


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the package and the benchmark's modules."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("data_engineering_examples_spark", "fixtures", "tools", DATA_DIR):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found beside perfbench/; run from a "
                  f"checkout of the repository", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench", "run", f"{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    prepare_env(work)

    bench = Bench(args, work)
    setup: dict = {}
    try:
        setup = bench.setup()
        t = time.perf_counter()
        oracle_res = oracle.check(bench.spark, bench.specs, list(bench.specs),
                                  bench.data_dir, ROOT)
        setup["oracle_s"] = time.perf_counter() - t
        passes = bench.passes()
        peak_rss = bench.tree.peak_rss_mb()
        result = summarize(setup, oracle_res, passes)
        result["metrics"]["peak_rss_mb"] = peak_rss["total"]
        host = host_info(bench.cpus)
        host["steal_frac"] = bench.steal.frac()
        host["probe_s"] = statistics.median(p["probe_s"] for p in passes)
        record = {"run": bench.run_id, "workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, "host": host,
                  "setup": setup, "oracle": oracle_res, "peak_rss_mb": peak_rss,
                  "tail": result["tail"], "metrics": result["metrics"],
                  "passes": passes}
        if args.trace:
            layer = bench.layer_metrics(passes)
            layer["host.steal_frac"] = host["steal_frac"]
            layer["host.probe_s"] = host["probe_s"]
            traced = [p["pass_s"] for p in passes if p["traced"]]
            layer["trace.overhead_frac"] = (
                statistics.median(traced) / result["metrics"]["pass_s"] - 1)
            record["layers"] = layer
            selfs = self_times(bench.tracer.spans)
            record["spans"] = [dict(s.as_dict(), self_s=selfs[s.id])
                               for s in bench.tracer.spans]
            printed = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
        else:
            printed = {k: {"value": v, "unit": UNITS[k]}
                       for k, v in result["metrics"].items()}
    finally:
        t = time.perf_counter()
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        setup["shutdown_s"] = time.perf_counter() - t
    with open(os.path.join(records, f"{bench.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    m = result["metrics"]
    print(f"perfbench {bench.run_id}: setup {m['setup_s']:.2f} s, pass "
          f"{m['pass_s']:.2f} s x {len(passes)}, p50 {m['query_p50_s']:.3f} s, "
          f"tail {m['query_tail_s']:.3f} s (p{result['tail']['percentile']:.0f} of "
          f"{result['tail']['samples']}), cpu {m['cpu_s']:.2f} s, rss "
          f"{m['peak_rss_mb']:.0f} MB, success {m['success_frac']:.3f}, steal "
          f"{host['steal_frac']:.3f}, probe {host['probe_s'] * 1000:.1f} ms",
          file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": printed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
