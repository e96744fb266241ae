"""Smoke test mirroring the driver's entry() check."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_runs(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_queries_oracle_keys_align():
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert q, "queries() must not be empty"
