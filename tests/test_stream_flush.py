"""Degenerate feeds and the no-data flush for the streaming drains.

* q120 over a zero-row events table must return an empty frame with its
  output schema (there is no event-time max to place a watermark
  sentinel after), matching the oracle's empty answer.
* q120 and q242 flush their final rows in the engine's closing no-data
  micro-batch.  Each drain pins
  ``spark.sql.streaming.noDataMicroBatches.enabled`` on for its own run,
  so a session that turned it off still gets the oracle's answer and
  gets its own setting back afterwards.
"""

from __future__ import annotations

import duckdb

from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.plans.workflow_queries import (
    NO_DATA_BATCHES_CONF,
)
from tools.check_oracle import compare, duck_connect

from .conftest import SF_SMOKE


def test_q120_empty_feed_returns_empty_sessions(spark, tmp_path):
    events = str(tmp_path / "events.parquet")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(0).write.parquet(events)
    spec = all_specs()["q120_stream_sessions"]
    df = spec.fn(spark, str(tmp_path))
    assert df.collect() == []
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}/*.parquet')")
    problems = compare("q120_stream_sessions", df, duck.execute(spec.oracle))
    assert not problems, problems


def test_stream_drains_flush_with_session_no_data_batches_off(spark):
    duck = duck_connect(SF_SMOKE)
    prev = spark.conf.get(NO_DATA_BATCHES_CONF)
    spark.conf.set(NO_DATA_BATCHES_CONF, "false")
    try:
        for name in ("q120_stream_sessions", "q242_stream_attribution_outer"):
            spec = all_specs()[name]
            problems = compare(name, spec.fn(spark, SF_SMOKE), duck.execute(spec.oracle))
            assert not problems, f"{name}: " + "; ".join(problems)
            assert spark.conf.get(NO_DATA_BATCHES_CONF) == "false", name
    finally:
        spark.conf.set(NO_DATA_BATCHES_CONF, prev)
