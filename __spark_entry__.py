"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are generated from the QuerySpec registry in
``data_engineering_examples_spark.plans`` — every implemented operator from
SURVEY.md §2 registers a (Spark callable, DuckDB oracle SQL) pair there.
``tools/check_oracle.py`` replicates the driver's comparison locally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_engineering_examples_spark.plans import all_specs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary, TPC-H Q1 shape) on sf0.001."""
    spec = all_specs()["q01_pricing_summary"]
    return spec.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted => weaker rows-only check."""
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
