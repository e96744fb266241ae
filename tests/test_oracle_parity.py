"""Replicates the driver's t2 correctness gate at sf0.001: every QuerySpec
with an oracle must match DuckDB on row count, column names, and values."""

from __future__ import annotations

import pytest

from data_engineering_examples_spark.plans import all_specs
from tools.check_oracle import compare, duck_connect

from .conftest import SF_SMOKE

SPECS = all_specs()


@pytest.fixture(scope="module")
def duck():
    return duck_connect(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    spec = SPECS[name]
    df = spec.fn(spark, SF_SMOKE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver behavior
        return
    problems = compare(name, df, duck.execute(spec.oracle))
    assert not problems, f"{name}: " + "; ".join(problems)
