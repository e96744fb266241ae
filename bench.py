"""Benchmark harness: runs the declared query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The stdout line is SIZE-BUDGETED: the driver records only a 2000-char
tail of stdout, so full-registry runs (233 queries + spread ≈ 80 KB)
write the complete record to ``bench_snapshots/last_run_full.json`` and
print a truncated-but-parseable line (total over ALL queries, slowest
queries shown, truncation explicit — see :func:`shape_stdout`).  Small
runs print the complete record unchanged.

Each query is timed end-to-end with FULL materialization: results are
written to the `noop` sink, which executes every projected expression and
every final operator (unlike `count()`, under which Catalyst prunes
unreferenced aggregates and drops final sorts). A warm-up pass on the
flagship query amortises JVM/codegen startup so the numbers reflect
steady-state engine throughput, as they would on a long-lived cluster.

``SPARK_GRAFT_BENCH_REPEAT=N`` (default 3 — the driver records committed
snapshots with no env override, so the default IS the snapshot policy;
set N=1 for quick iteration) times every query N times and
reports the per-query MEDIAN in ``queries`` (the headline ``value`` is
the sum of medians), with the full spread in ``queries_spread`` as
``{name: {"median": s, "min": s, "max": s, "runs": [...]}}``.  Single
runs on this host swing 2-8x on CPU-heavy queries (documented in
``bench_snapshots/README.md``); a committed snapshot should be taken at
N>=3 so one scheduler stall can't masquerade as a plan regression — or
hide one.  Repeats are interleaved (full pass 1, then full pass 2, ...)
rather than back-to-back per query, so a transient host stall lands on
at most one sample of MANY queries instead of all samples of one.

Session-shared substrates (``scratch.memo_substrate`` tables: dedup
clusters, LSH pairs, image dhashes, the quantized-embedding fact, ANN
index structures) are built ONCE per session up front and timed into
the record's top-level ``substrates`` map, so the build cost is
explicit instead of hiding in the first consumer's pass-1 run where
the median silently dropped it.  They stay OUT of ``queries``/
``value`` so the driver's round-over-round total remains comparable
(prior rounds' medians never contained build costs either).  Queries
served warm from the memo are listed in the record's
``substrate_warm`` map — their per-query numbers measure substrate
SERVING, not building, exactly like a production pipeline whose
index/dedup tables are materialized once per corpus snapshot.

The record says what it ran on: ``cpus`` (the session's
``defaultParallelism``), ``spark_version`` and ``git_sha`` (None outside
a git checkout).  ``compiles`` maps every query to the classes Janino
compiled during its LAST timed run (``session.codegen_compiles``); with
the generated-code cache holding the registry's working set, a warm run
reads 0, so a nonzero entry marks a query whose generated code changes
from run to run.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from data_engineering_examples_spark.plans import all_specs  # noqa: E402
from data_engineering_examples_spark.session import (  # noqa: E402
    codegen_compiles,
    get_spark,
)


def _warm_python_and_streaming(spark) -> None:
    """Warm the two lazily-created runtimes the JVM warm-up misses, so
    per-query timings reflect steady-state throughput rather than which
    query happens to run first: the Arrow Python worker pool (first
    pandas-UDF query otherwise pays worker fork + Arrow init) and the
    streaming state-store/micro-batch machinery (first streaming drain
    otherwise pays state-store provider + progress-tracking init)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.streaming.state import GroupStateTimeout

    from data_engineering_examples_spark.scratch import scratch_dir

    _idty = pandas_udf(lambda s: s, "int")

    spark.range(4).select(_idty(F.col("id").cast("int"))).write.format(
        "noop"
    ).mode("overwrite").save()

    def _upd(key, pdfs, state):
        n = sum(len(p) for p in pdfs)
        state.update((n,))
        yield pd.DataFrame([{"id": int(key[0]), "n": n}])

    # Python DataSource machinery (planner worker + source-task workers)
    # is a third lazily-created runtime: a 2-row archive read pays the
    # spin-up so the ods_zip queries time steady-state behavior.
    import os
    import zipfile

    from data_engineering_examples_spark.sources import ods_datasource

    ods_datasource.register(spark)
    # scratch_dir() wipes on every call, so the archive is (re)built
    # unconditionally — a 2-row zip, negligible against the runtime spin-up
    # it warms.
    ds_base = scratch_dir("bench_warm_ds")
    ds_zip = os.path.join(ds_base, "warm.zip")
    with zipfile.ZipFile(ds_zip, "w") as z:
        z.writestr("m1.csv", "X1,n\n")
        z.writestr("m2.csv", "X2,n\n")
    spark.read.format("ods_zip").load(ds_zip).write.format("noop").mode(
        "overwrite"
    ).save()

    base = scratch_dir("bench_warm")
    spark.range(4).selectExpr("id", "id AS v").coalesce(1).write.parquet(f"{base}/in")
    q = (
        spark.readStream.schema("id long, v long")
        .parquet(f"{base}/in")
        .groupBy("id")
        .applyInPandasWithState(
            _upd, "id long, n int", "n int", "update", GroupStateTimeout.NoTimeout
        )
        .writeStream.foreachBatch(lambda df, _b: df.count())
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    specs = all_specs()
    # SPARK_GRAFT_BENCH_ONLY=q01_...,q23_... restricts the run — for
    # profiling single queries and for the bench-contract test; the
    # driver never sets it, so the recorded runs always cover the full
    # registry. Validated BEFORE the JVM boots so a typo fails in
    # milliseconds, not after ~10s of Spark startup.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in specs]
        if unknown:
            sys.exit(
                f"SPARK_GRAFT_BENCH_ONLY names not in the registry: "
                f"{unknown}; valid names are the q* keys in "
                f"data_engineering_examples_spark/plans (see CAPABILITIES.md)"
            )
        specs = {n: specs[n] for n in names}
    spark = get_spark("bench")

    # warm-up: JVM, codegen, parquet footer caches
    all_specs()["q01_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    _warm_python_and_streaming(spark)

    from data_engineering_examples_spark.scratch import drain_substrate_hits

    # Session-shared substrate builds (memo_substrate) are timed as their
    # OWN named entries, once per session — a production pipeline
    # materializes these tables once per corpus snapshot, and folding the
    # build into whichever consumer runs first (then reporting a warm
    # median) hid the cost entirely (r13 verdict ask #1).  Consumers run
    # substrate-warm in every pass and are tagged as such in the record
    # via ``substrate_warm``.  Default ON for full-registry runs; OFF
    # under SPARK_GRAFT_BENCH_ONLY (isolated profiling keeps the r13
    # semantics: the first run pays any build, medians stay warm) —
    # SPARK_GRAFT_BENCH_SUBSTRATES=1/0 overrides either way.
    sub_env = os.environ.get("SPARK_GRAFT_BENCH_SUBSTRATES")
    prebuild = (not only) if sub_env is None else sub_env != "0"
    substrate_timings: dict[str, float] = {}
    if prebuild:
        from data_engineering_examples_spark.plans.substrates import (
            substrate_builders,
        )

        for sname, trigger in substrate_builders().items():
            spark.sparkContext.setJobDescription(f"substrate build: {sname}")
            t0 = time.perf_counter()
            trigger(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            substrate_timings[sname] = dt
            print(f"# [substrate] {sname}: {dt:.3f}s", file=sys.stderr)
            spark.sparkContext.setJobDescription(None)
        drain_substrate_hits()  # the builds' own dependency hits

    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))
    runs: dict[str, list[float]] = {name: [] for name in specs}
    compiles: dict[str, int] = {}
    substrate_warm: dict[str, list[str]] = {}
    for pass_no in range(repeat):
        for name, spec in specs.items():
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            # noop sink: full execution of every expression/operator, zero
            # serialization-to-driver cost — measures the engine, not the
            # pipe.
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            compiles[name] = codegen_compiles(spark) - c0
            runs[name].append(dt)
            hits = drain_substrate_hits()
            if hits:
                seen = substrate_warm.setdefault(name, [])
                for h in hits:
                    if h not in seen:
                        seen.append(h)
            print(f"# [{pass_no + 1}/{repeat}] {name}: {dt:.3f}s", file=sys.stderr)

    timings = {name: round(statistics.median(r), 4) for name, r in runs.items()}
    total = round(sum(timings.values()), 4)
    out = {
        "metric": "declared_query_set_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "git_sha": _git_sha(),
        "compiles": compiles,
    }
    if substrate_timings:
        # one-time session builds, visible as their own map — kept OUT
        # of "queries"/"value" so the driver's round-over-round total
        # stays comparable (r13 medians never contained build costs
        # either; they hid in pass-1 runs, which is what this fixes)
        out["substrates"] = substrate_timings
    if substrate_warm:
        # which substrates each query was served WARM from the memo —
        # those per-query numbers measure serving, not building
        out["substrate_warm"] = {
            q: sorted(names) for q, names in sorted(substrate_warm.items())
        }
    if repeat > 1:
        out["repeat"] = repeat
        out["queries_spread"] = {
            name: {
                "median": timings[name],
                "min": min(r),
                "max": max(r),
                "runs": r,
            }
            for name, r in runs.items()
        }
    # The full per-query record (spread included) goes to a side file so
    # the driver's 2000-char stdout tail never loses it.  The path is
    # overridable so the bench-contract tests (which run this script as
    # a subprocess) can point it at a tmpdir instead of clobbering the
    # round's real record — last_run_full.json is gitignored either way,
    # the durable copies are the committed bench_snapshots/rNN.json.
    full_path = os.environ.get("SPARK_GRAFT_BENCH_FULL_PATH") or os.path.join(
        ROOT, "bench_snapshots", "last_run_full.json"
    )
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w", encoding="utf-8") as fh:
            json.dump(out, fh)
    except OSError:
        full_path = None  # read-only checkout: stdout shaping still applies
    print(shape_stdout(out, full_path))
    spark.stop()


def _git_sha() -> str | None:
    """The checkout's commit, or None when it is not a git checkout."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


#: The driver records only the last 2000 characters of stdout and
#: parses the JSON line out of that tail — a full 233-query map plus
#: spread is ~40x larger, so rounds 3-7 shipped an unparseable BENCH
#: record.  Budget leaves headroom for the trailing newline.
STDOUT_BUDGET = 1900


def shape_stdout(out: dict, full_path: str | None,
                 budget: int = STDOUT_BUDGET) -> str:
    """Fit the bench record into the driver's stdout-tail budget.

    Small runs (SPARK_GRAFT_BENCH_ONLY profiling, the contract tests)
    emit the COMPLETE record unchanged.  When it exceeds ``budget``,
    the per-query maps other than ``queries`` are dropped first (they
    live in ``full_path``; ``substrate_warm_n`` keeps the count of
    substrate-warm queries), then ``queries`` is truncated to the slowest
    queries that still fit, with ``queries_omitted``/``n_queries`` making
    the truncation explicit and ``queries_full`` pointing at the complete
    record.  ``value`` stays the total across ALL queries either way, and
    the top-level scalars (``cpus`` among them) are kept."""
    line = json.dumps(out)
    if len(line) <= budget:
        return line
    slim = {
        k: v
        for k, v in out.items()
        if k not in ("queries_spread", "substrate_warm", "compiles")
    }
    slim["substrate_warm_n"] = len(out.get("substrate_warm", {}))
    slim["n_queries"] = len(out["queries"])
    if full_path:
        slim["queries_full"] = os.path.relpath(full_path, ROOT)
    line = json.dumps(slim)
    if len(line) <= budget:
        return line
    # slowest-first, name tiebreak: the queries worth seeing in a tail
    ranked = sorted(out["queries"].items(), key=lambda kv: (-kv[1], kv[0]))
    shown: dict[str, float] = {}
    slim["queries"] = shown
    slim["queries_omitted"] = len(ranked)
    for name, sec in ranked:
        shown[name] = sec
        slim["queries_omitted"] = len(ranked) - len(shown)
        if len(json.dumps(slim)) > budget:
            del shown[name]
            slim["queries_omitted"] = len(ranked) - len(shown)
            break
    return json.dumps(slim)


if __name__ == "__main__":
    main()
