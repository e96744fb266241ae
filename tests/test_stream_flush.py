"""Degenerate feeds and the no-data flush for the streaming drains.

* q120 over a zero-row events table must return an empty frame with its
  output schema (there is no event-time max to place a watermark
  sentinel after), matching the oracle's empty answer.
* q120 and q242 flush their final rows in the engine's closing no-data
  micro-batch.  The drain helper pins
  ``spark.sql.streaming.noDataMicroBatches.enabled`` on for each run, so
  a session that turned it off still gets the oracle's answer and gets
  its own setting back afterwards, together with its own
  ``spark.sql.shuffle.partitions``.
* A drain over an input directory that holds no files returns an empty
  frame with the stream's schema.
"""

from __future__ import annotations

import duckdb

from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.streaming.drain import (
    NO_DATA_BATCHES_CONF,
    drain,
)
from data_engineering_examples_spark.streaming.tasks import TASK_SCHEMA
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
    prev_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(NO_DATA_BATCHES_CONF, "false")
    # neither q120's 8 nor q242's 4, so a missed restore shows
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        for name in ("q120_stream_sessions", "q242_stream_attribution_outer"):
            spec = all_specs()[name]
            problems = compare(name, spec.fn(spark, SF_SMOKE), duck.execute(spec.oracle))
            assert not problems, f"{name}: " + "; ".join(problems)
            assert spark.conf.get(NO_DATA_BATCHES_CONF) == "false", name
            assert spark.conf.get("spark.sql.shuffle.partitions") == "5", name
    finally:
        spark.conf.set(NO_DATA_BATCHES_CONF, prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_partitions)


def test_drain_of_empty_input_dir_returns_empty_frame(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    stream = spark.readStream.schema(TASK_SCHEMA).parquet(str(inp))
    out = drain(stream, str(tmp_path / "ckpt"), str(tmp_path / "out"))
    assert out.schema == stream.schema
    assert out.collect() == []
