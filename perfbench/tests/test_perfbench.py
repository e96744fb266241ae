"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The Spark tests start their own session, so run this directory in its own
pytest process.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
from spans import union_s  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(40)]
    value, pct, n = run.tail(xs)
    assert n == 40 and value == 29.0 and pct == 75.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_of_few_samples_is_the_maximum():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_union_counts_overlaps_once():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4


def test_oracle_fixture_paths_are_rebased():
    sql = "SELECT * FROM read_parquet('/some/tree/fixtures/tasks.parquet')"
    assert oracle.rebase_fixtures(sql, "/co") == (
        "SELECT * FROM read_parquet('/co/fixtures/tasks.parquet')")


def test_inputs_are_the_ten_committed_tables():
    """The seed sets only the query order; the tables are fixed files."""
    import pyarrow.parquet as pq

    check_oracle, _ = oracle._tools(run.ROOT)
    assert set(check_oracle.TABLES) <= {f[:-len(".parquet")] for f in os.listdir(run.DATA_DIR)}
    assert pq.read_metadata(os.path.join(run.DATA_DIR, "lineitem.parquet")).num_rows > 50_000


@pytest.fixture(scope="module")
def bench():
    work = os.path.join(run.ROOT, ".perfbench", "test", str(os.getpid()))
    run.prepare_env(work)
    args = argparse.Namespace(workload="etl_dedup", seed=1, seconds=0, trace=1)
    b = run.Bench(args, work)
    try:
        b.start()
        b.start_trace()
        yield b
    finally:
        b.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _traced(bench, prefix):
    bench.specs = run.specs_for([prefix])
    name = next(iter(bench.specs))
    bench.tracer.pass_id = prefix
    bench.tracer.bind(bench.spark)
    try:
        q = bench.run_query(name, 0, traced=True)
    finally:
        bench.tracer.unbind(bench.spark)
    assert q["ok"], q.get("error")
    return q, [s for s in bench.tracer.spans if s.pass_id == prefix]


@pytest.mark.parametrize("prefix", ["q75", "q185"])
def test_window_catches_jobs_the_job_group_misses(bench, prefix):
    """Streaming micro-batches run on the stream's thread, outside the
    driver thread's job group; the query's time window still holds them."""
    q, _ = _traced(bench, prefix)
    assert q["window_jobs"] > q["group_jobs"] >= 1


def test_traced_q235_records_cc_and_materialize_spans(bench):
    """``materialize`` is bound by name in the plan modules and in
    ``operators/graph.py``; the wrappers must reach those bindings."""
    _, spans = _traced(bench, "q235")
    names = {s.name for s in spans}
    assert {"operators.graph.cc", "scratch.materialize", "plans.build"} <= names
    cc = next(s for s in spans if s.name == "operators.graph.cc")
    inner = [s for s in spans if s.name == "scratch.materialize" and s.parent == cc.id]
    assert inner, "materialize calls inside connected_components are traced"


def test_unbind_restores_every_binding(bench):
    from data_engineering_examples_spark import scratch
    from data_engineering_examples_spark.plans import similarity_queries

    orig = scratch.materialize
    bench.tracer.bind(bench.spark)
    assert similarity_queries.materialize is not orig
    bench.tracer.unbind(bench.spark)
    assert scratch.materialize is orig and similarity_queries.materialize is orig
